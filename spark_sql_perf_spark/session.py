"""SparkSession builder with the engine's standard configuration.

Mirrors the reference harness's session setup (RunBenchmark.scala:87-114:
AQE on, tunable shuffle partitions, off-heap toggles) re-expressed for
modern Spark. Every knob the reference exposes as a Variation is settable
at runtime via ``spark.conf.set`` — only cluster-static ones live here.

Scale notes (100 TB design intent):
- AQE handles runtime partition coalescing + skew-join splitting, so the
  static ``shuffle.partitions`` only needs to be an upper bound.
- ``maxPartitionBytes`` keeps scan partitions memory-sized regardless of
  input file layout.
- Arrow execution keeps the pandas-UDF path (the only Python hot path we
  allow) batched instead of per-row.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution is the idiomatic replacement for much of the
    # reference fork's motivation (runtime re-plan of multi-joins).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalesce to the advisory partition SIZE, not the cluster parallelism:
    # small shuffles collapse to few tasks (12x on the sf0.1 bench) and big
    # shuffles still split by size — the recommended production setting
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics across Spark and the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every pandas interchange (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Scans: keep partitions memory-sized; 128m is right for local and
    # cluster alike (executors get many of these).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Don't let tiny dim tables produce 200 shuffle partitions by default.
    # This is the initial post-shuffle partition count and so a cap: AQE
    # only coalesces below it (coalescePartitions.initialPartitionNum is
    # unset); skew-join splitting aside, it never adds reducers.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Prefer shuffled-hash over sort-merge when the planner's size
    # conditions hold, and let AQE rewrite SMJ->SHJ when every
    # post-shuffle partition is under the same 64m bound as the
    # broadcast threshold (guide §3.1/§9). Scale-safe: both paths are
    # size-gated, so an over-threshold build side still sort-merges.
    # Measured r13 (fresh-process min-of-5, both A/B orders): g4 -20%,
    # d2 -17%, g3 -19%, j2/j4 -5%, nothing slower.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    # Self-joins and chained graph joins legitimately produce crossings
    # Catalyst can misread; keep planner strict but AQE adaptive.
    "spark.sql.cbo.enabled": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # keep stdout/stderr clean for harness consumers (bench JSON line)
    "spark.ui.showConsoleProgress": "false",
}


def build_session(
    app_name: str = "spark-sql-perf-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same entry points run on a laptop and, with ``--master`` passed by
    spark-submit, on a real cluster unchanged.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
