"""Per-operator metrics: observed SQL metrics from the executed plan,
plus the reference's per-subtree re-execution breakdown
(Query.scala:86-116) re-expressed over the optimized LOGICAL plan.

Two fidelity levels:

- `plan_metrics(df)` — after an action runs, every physical node carries
  SQL metrics (rows output, time in exchange/scan/agg, spill sizes); we
  walk the JVM plan tree via py4j and collect them. Observed numbers
  from the actual run, zero extra cost.
- `breakdown_execution(spark, df)` — the reference's approach: execute
  every plan subtree separately, bottom-up, timing each
  (Query.scala:86-116 builds a DataFrame per physical subtree and runs
  it; physical subtrees are not constructible from Python, so we build
  one per optimized-logical subtree via Dataset.ofRows — same
  cumulative-time-per-subtree semantics, one Catalyst re-plan per node).
  O(n_subtrees x query cost): opt-in, like the reference's
  includeBreakdown flag.
- `job_step(spark, name)` — names the Spark jobs a block launches, so
  the status store can group a run's jobs by library step, and logs the
  block's wall span at DEBUG, so a reader can split it into job-busy
  and driver time.
"""

from __future__ import annotations

import logging
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

_JOB_DESCRIPTION = "spark.job.description"
_log = logging.getLogger(__name__)


@contextmanager
def job_step(spark: SparkSession, name: str) -> Iterator[None]:
    """Set ``spark.job.description`` to ``name`` for the jobs launched
    inside the block (a thread-local property: broadcast and AQE stage
    jobs inherit it), then restore the previous value. Inside a
    streaming ``foreachBatch`` the previous value is the engine's own
    batch description, which must survive the step. Logs ``name``,
    start and end at DEBUG, in epoch seconds like the status store's job
    times."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setLocalProperty(_JOB_DESCRIPTION, name)
    start = time.time()
    try:
        yield
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, previous)
        _log.debug("job_step %s %.3f %.3f", name, start, time.time())


@dataclass
class NodeMetrics:
    node: str
    depth: int
    metrics: dict[str, int] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {"node": self.node, "depth": self.depth, "metrics": self.metrics}


def _walk(jnode, depth: int, out: list[NodeMetrics]) -> None:
    m: dict[str, int] = {}
    it = jnode.metrics().iterator()
    while it.hasNext():
        entry = it.next()
        metric = entry._2()
        m[str(entry._1())] = int(metric.value())
    name = jnode.nodeName()
    out.append(NodeMetrics(node=name, depth=depth, metrics=m))
    # AQE stage wrappers (ShuffleQueryStage / BroadcastQueryStage /
    # ResultQueryStage) hold their subplan as a member, not a child
    if "QueryStage" in name:
        _walk(jnode.plan(), depth + 1, out)
        return
    cit = jnode.children().iterator()
    while cit.hasNext():
        _walk(cit.next(), depth + 1, out)


def plan_metrics(df: DataFrame) -> list[NodeMetrics]:
    """Collect per-node SQL metrics from the (executed) physical plan.

    Call AFTER an action — metrics are zero until the plan ran. With AQE
    the final plan is used when available.
    """
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    # unwrap AdaptiveSparkPlanExec to its finalized plan if present
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    out: list[NodeMetrics] = []
    _walk(plan, 0, out)
    return out


@dataclass
class SubtreeTime:
    """One row of the reference's breakdown results (results.scala:37-54
    BreakdownResult: nodeName, index, executionTime)."""

    node: str
    index: int
    depth: int
    rows: int
    time_ms: float

    def to_dict(self) -> dict[str, Any]:
        return {
            "node": self.node,
            "index": self.index,
            "depth": self.depth,
            "rows": self.rows,
            "time_ms": self.time_ms,
        }


def _logical_subtrees(plan) -> list[tuple[int, object]]:
    """(depth, node) for every subtree, leaves first (bottom-up), mirroring
    Query.scala:90 `depth-first enumeration reversed`."""
    out: list[tuple[int, object]] = []

    def walk(node, depth: int) -> None:
        out.append((depth, node))
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next(), depth + 1)

    walk(plan, 0)
    out.reverse()
    return out


def breakdown_execution(
    spark: SparkSession, df: DataFrame, max_nodes: int = 64
) -> list[SubtreeTime]:
    """Execute every optimized-logical subtree bottom-up and time it —
    the reference's per-operator breakdown (Query.scala:86-116). The time
    of a subtree includes its children (cumulative), so the per-operator
    cost is the delta to the child subtree, exactly as in the reference's
    dashboard. Row counts come free from the timing action (count).

    Leaf relations (scans) are included; `max_nodes` bounds the cost on
    pathological plans.
    """
    jvm = spark._jvm
    sess = spark._jsparkSession
    plan = df._jdf.queryExecution().optimizedPlan()
    results: list[SubtreeTime] = []
    for index, (depth, node) in enumerate(_logical_subtrees(plan)[:max_nodes]):
        sub = jvm.org.apache.spark.sql.classic.Dataset.ofRows(sess, node)
        t0 = time.perf_counter()
        rows = sub.count()
        results.append(
            SubtreeTime(
                node=node.nodeName(),
                index=index,
                depth=depth,
                rows=int(rows),
                time_ms=(time.perf_counter() - t0) * 1000.0,
            )
        )
    return results


def rows_by_operator(df: DataFrame) -> dict[str, int]:
    """Rows produced per operator type — the quick skew/explosion check."""
    agg: dict[str, int] = {}
    for nm in plan_metrics(df):
        rows = nm.metrics.get("numOutputRows")
        if rows is not None:
            agg[nm.node] = agg.get(nm.node, 0) + rows
    return agg
