"""Real query metrics + the reference's cost accounting (O24).

The reference prices a query from *estimated* GB scanned/shuffled:
``io_cost(data_gb, use_network) -> time/carbon/price = GB x unit x (5.0 if
network)`` with units time 1.0, carbon 0.5, price 0.1 per GB
(`/root/reference/challenge/costs.py:10-37`, constants
`challenge/config.py:3-17`, `query_simulator/config.py:43-48`).

Here the same formulas run over **measured** bytes from Spark's SQL metrics
store (works under AQE): Parquet scan "size of files read", Exchange "shuffle
bytes written", per-node output rows.  The estimate/measurement duality the
reference can't have (SURVEY.md §7 risks) is preserved: ``estimated_*`` comes
from Catalyst CBO plan stats, ``*_bytes`` from execution.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# reference cost constants (challenge/config.py:3-17 — time/carbon/price per
# GB, network multiplier 5.0; same values in query_simulator/config.py:43-48)
TIME_UNIT_PER_GB = 1.0
CARBON_UNIT_PER_GB = 0.5
PRICE_UNIT_PER_GB = 0.1
NETWORK_MULTIPLIER = 5.0

#: how long run_with_metrics waits for the async listener bus to register,
#: then to complete, the measured execution in the SQL status store
STORE_WAIT_S = 10.0

_SIZE_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "PiB": 1024.0**5,
    "EiB": 1024.0**6,
}


def _parse_metric(raw: str) -> float:
    """Parse a formatted SQL-metric string -> leading scalar in bytes/count.

    Shapes seen: '6,000'; '112.1 KiB'; and for multi-task stages a LABEL
    first line: 'total (min, med, max (stageId: taskId))\\n271.5 KiB (...)'
    — so scan lines for the first one that starts with a number."""
    for line in raw.strip().splitlines():
        m = re.match(r"^([\d.,]+)\s*([A-Za-z]+)?", line.strip())
        if m:
            value = float(m.group(1).replace(",", ""))
            unit = m.group(2)
            if unit in _SIZE_UNITS:
                value *= _SIZE_UNITS[unit]
            return value
    return 0.0


@dataclass
class OperatorMetrics:
    """Per-plan-node measured metrics (reference OperatorMetrics,
    `challenge/models.py:140-150`)."""

    node: str
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class QueryMetrics:
    """Measured per-query totals (reference QueryResult,
    `challenge/models.py:153-163`)."""

    name: str
    wall_sec: float
    scanned_bytes: float
    shuffle_bytes: float
    output_rows: float
    operators: list[OperatorMetrics] = field(default_factory=list)
    #: physical-plan description of the MEASURED execution (the UI's plan
    #: text, which AQE updates to final form on completion) — the plan the
    #: bytes above actually came from, unlike df.queryExecution(), whose
    #: own execution never ran here (the noop write creates a separate one)
    plan_desc: str = ""

    @property
    def scanned_gb(self) -> float:
        return self.scanned_bytes / 2**30

    @property
    def shuffle_gb(self) -> float:
        return self.shuffle_bytes / 2**30

    def costs(self) -> dict[str, float]:
        """time/carbon/price with the reference's constants: local scan at
        1x, shuffled bytes at the 5x network multiplier
        (challenge/costs.py:17-26)."""
        billed_gb = self.scanned_gb + NETWORK_MULTIPLIER * self.shuffle_gb
        return {
            "time": billed_gb * TIME_UNIT_PER_GB,
            "carbon": billed_gb * CARBON_UNIT_PER_GB,
            "price": billed_gb * PRICE_UNIT_PER_GB,
        }


def run_with_metrics(
    spark: SparkSession, df: DataFrame, name: str = "query"
) -> QueryMetrics:
    """Execute ``df`` (noop sink: full execution, no driver collect) and pull
    its metrics from the SQL status store — AQE-safe, unlike walking
    ``executedPlan`` (an AdaptiveSparkPlanExec exposes no children)."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsList()
    last_eid_before = before.last().executionId() if before.size() > 0 else -1

    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0

    # the status store is fed by an ASYNC listener bus: poll until our
    # execution (id > pre-action max) is registered, else last() can hand
    # back the previous query's metrics under load
    eid = None
    deadline = time.time() + STORE_WAIT_S
    while time.time() < deadline:
        lst = store.executionsList()
        if lst.size() > 0 and lst.last().executionId() > last_eid_before:
            eid = lst.last().executionId()
            break
        time.sleep(0.05)
    if eid is None:  # the newest execution is another query's: never bill it
        raise RuntimeError(
            f"{name}: execution not registered in the SQL status store "
            f"within {STORE_WAIT_S:g}s"
        )
    # metric values are aggregated asynchronously too — wait for completion
    # on a FRESH deadline (a slow registration above must not eat the
    # completion wait, or metrics get read partially aggregated)
    deadline = time.time() + STORE_WAIT_S
    plan_desc = None
    while time.time() < deadline:
        ex = store.execution(eid)
        if ex.isDefined() and ex.get().completionTime().isDefined():
            plan_desc = ex.get().physicalPlanDescription()
            break
        time.sleep(0.05)
    if plan_desc is None:  # metrics may be only partly aggregated
        raise RuntimeError(
            f"{name}: execution {eid} not completed in the SQL status store "
            f"within {STORE_WAIT_S:g}s"
        )
    graph = store.planGraph(eid)
    values = store.executionMetrics(eid)

    ops: list[OperatorMetrics] = []
    scanned = shuffled = 0.0
    output_rows = -1.0
    nodes = graph.allNodes().iterator()
    while nodes.hasNext():
        n = nodes.next()
        parsed: dict[str, float] = {}
        ms = n.metrics().iterator()
        while ms.hasNext():
            m = ms.next()
            aid = m.accumulatorId()
            if values.contains(aid):
                parsed[m.name()] = _parse_metric(values.apply(aid))
        if parsed:
            ops.append(OperatorMetrics(n.name(), parsed))
        nm = n.name()
        if nm.startswith("Scan"):
            scanned += parsed.get("size of files read", 0.0)
        if nm == "Exchange" or nm.startswith("Exchange"):
            shuffled += parsed.get("shuffle bytes written", 0.0)
        if output_rows < 0 and "number of output rows" in parsed:
            # graph order is root-first: first node carrying row counts is
            # closest to the sink -> the query's output cardinality
            output_rows = parsed["number of output rows"]

    return QueryMetrics(
        name=name,
        wall_sec=wall,
        scanned_bytes=scanned,
        shuffle_bytes=shuffled,
        output_rows=max(output_rows, 0.0),
        operators=ops,
        plan_desc=plan_desc,
    )


def estimated_stats(df: DataFrame) -> dict[str, float]:
    """Catalyst CBO estimate for the same plan (the reference's whole output
    was this side of the duality): sizeInBytes, rowCount if known."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()

    def _num(v) -> float:  # scala BigInt arrives as py4j object or plain int
        return float(v if isinstance(v, (int, float)) else v.toString())

    out = {"size_bytes": _num(stats.sizeInBytes())}
    if stats.rowCount().isDefined():
        out["row_count"] = _num(stats.rowCount().get())
    return out
