"""Scratch dirs of the registry rows that write temporary stores
(queries/scratch.py): ``pid_run_dir``'s clearing and liveness pruning,
and the contract that those rows leave nothing outside their
``run-<pid>`` dir for a later process to read.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from bigdatastructure_a5_spark.queries.scratch import pid_run_dir


def _dead_pid() -> int:
    """A pid that is certainly not alive (max pid space is way below)."""
    return 2 ** 22 + 12345


def test_pid_run_dir_clears_own_and_prunes_dead(tmp_path):
    base = str(tmp_path)
    run = pid_run_dir(base)
    with open(os.path.join(run, "leftover"), "w") as fh:
        fh.write("x")
    dead = os.path.join(base, f"run-{_dead_pid()}")
    os.makedirs(dead)
    run2 = pid_run_dir(base)
    assert run2 == run
    assert not os.listdir(run2)  # cleared at entry
    assert not os.path.isdir(dead)  # dead sibling pruned


def test_store_writing_rows_leave_only_run_dirs(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The CC, retraction and packing rows compute every input (minhash
    pairs, batch-1 dedup state, ingest splits) inside the call, so no
    store outlives the process that wrote it: after running them, every
    file and leaf dir under the temp root sits inside a ``run-<pid>``
    dir."""
    from bigdatastructure_a5_spark.queries.mixture_queries import (
        pack_assembly_incremental,
    )
    from bigdatastructure_a5_spark.queries.pipeline import (
        dedup_clusters,
        dedup_retraction,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for builder in (dedup_clusters, dedup_retraction, pack_assembly_incremental):
        assert builder(spark, sf_dir).count() > 0

    run = f"run-{os.getpid()}"
    runs, outside = 0, []
    for dp, dns, fns in os.walk(tmp_path):
        parts = Path(dp).relative_to(tmp_path).parts
        if run in parts:
            runs += parts[-1] == run
            continue
        outside += [os.path.join(dp, f) for f in fns]
        if not dns and not fns:
            outside.append(dp)
    assert runs == 2  # the retraction and packing rows' scratch dirs
    assert not outside, f"stores left outside run dirs: {outside}"
