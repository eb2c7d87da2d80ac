"""The one lifetime rule for materialized intermediates.

Every library materialization is :func:`materialize` — a tracked
``localCheckpoint`` — and is freed either by :func:`release`, when the
code that made it is done with it, or by :func:`release_all`, which
``ExperimentRunner`` calls at each iteration boundary (untracked blocks
would otherwise wait for driver GC).

Caveat: a checkpointed frame has no lineage, so a frame held across
``release_all`` (or its own ``release``) cannot be re-executed.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame

# (context, RDD id) of every materialized frame not yet released. Ids
# only: a JVM reference would keep the RDD reachable and stop Spark's
# ContextCleaner from freeing it when the frame is garbage-collected.
_TRACKED: set[tuple[SparkContext, int]] = set()


def _rdd(df: DataFrame):
    # a checkpointed frame's analyzed plan is a LogicalRDD wrapping the
    # RDD that localCheckpoint marked persistent
    return df._jdf.queryExecution().analyzed().rdd()


def materialize(df: DataFrame, eager: bool) -> DataFrame:
    """``df.localCheckpoint(eager)``, tracked for release."""
    out = df.localCheckpoint(eager=eager)
    _TRACKED.add((out.sparkSession.sparkContext, _rdd(out).id()))
    return out


def release(*frames: DataFrame | None) -> None:
    """Unpersist and untrack these materialized frames now. Anything
    else (``None``, a frame :func:`materialize` did not return, one
    already released) is skipped; never raises (``finally`` path)."""
    for df in frames:
        if df is None:
            continue
        try:
            rdd = _rdd(df)
            key = (df.sparkSession.sparkContext, rdd.id())
            if key in _TRACKED:
                _TRACKED.discard(key)
                rdd.unpersist(False)
        except Exception:
            pass


def release_all() -> None:
    """Unpersist every tracked frame; never raises (teardown path)."""
    while _TRACKED:
        sc, rid = _TRACKED.pop()
        try:
            jmap = sc._jsc.getPersistentRDDs()
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)
        except Exception:
            pass
