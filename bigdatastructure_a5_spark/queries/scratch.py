"""Per-invocation scratch dirs for the registry rows that write temporary
stores (the streaming dedup and packing rows).

:func:`pid_run_dir` is the only helper.  Every store such a row reads is
written by the same call, inside its ``run-<pid>`` dir; nothing is kept
for a later process to adopt.  The dir is safe under concurrent
PROCESSES (a gate may run queries in separate processes, and a bench can
overlap a gate on the same box): it is cleared at entry (reruns
overwrite rather than accumulate), never clears another LIVE process's
dir, and prunes dead processes' leftovers via an ``os.kill(pid, 0)``
liveness probe.

Plain local filesystem semantics are assumed, which is what
tempfile.gettempdir() gives; the production state stores use the
Hadoop-FS staging-swap protocol in streaming/state.py instead.
"""

from __future__ import annotations

import os
import shutil


def pid_run_dir(base: str) -> str:
    """A fresh ``{base}/run-{pid}`` scratch dir: cleared at entry, with
    dead processes' ``run-*`` siblings liveness-pruned."""
    run = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    for d in os.listdir(base):
        if d.startswith("run-") and d != f"run-{os.getpid()}":
            try:
                os.kill(int(d[4:]), 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
            except PermissionError:
                pass  # alive under another uid — leave it
    return run
