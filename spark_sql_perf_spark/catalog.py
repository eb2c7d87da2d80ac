"""Table catalog over the driver testdata (TESTDATA.md / FIXTURES.md §A).

The reference discovers ``Table`` members by Scala reflection
(Benchmark.scala:134-149) and registers them as hive/temp tables
(tpcds/Tables.scala:174-193). We use an explicit registry instead — less
magic, testable — and plain ``spark.read.parquet`` which preserves
predicate pushdown + column pruning into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (they
# grow sublinearly or not at all in TPC-H-style schemas).
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation"})

_TUNED_FLAG = "spark.sql_perf.session.tuned"


def tune_session(spark: SparkSession) -> None:
    """Set runtime confs this engine depends on, once per session.

    The external driver (and any embedding application) owns the session
    and may run stock defaults — 200 shuffle partitions and row-based
    toPandas are a large constant overhead per query at small SF and the
    reason a fixed verification time budget covers fewer queries. All of
    these are runtime-settable. ``shuffle.partitions`` becomes a CAP of
    ``defaultParallelism``: AQE only coalesces below it (skew-join
    splitting aside, it never adds reducers), and
    ``coalescePartitions.initialPartitionNum`` is left unset, so a large
    shuffle on a session this engine does not own runs with at most
    ``defaultParallelism`` reducers.
    """
    try:
        if spark.conf.get(_TUNED_FLAG, "") == "1":
            return
    except Exception:
        pass
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The partition count derives from the session's ACTUAL parallelism,
    # not a literal: a hard-coded 32 overrode the env-derived value in
    # externally-owned sessions and made the driver's $SPARK_GRAFT_CPUS
    # scaling probe meaningless (r13 VERDICT item 2 — an 8-core run
    # still planned 32-way shuffles). It is the initial (and so the
    # largest) post-shuffle partition count; AQE may only coalesce
    # below it.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Size-gated shuffled-hash preference (see session.DEFAULT_CONF —
    # same setting for sessions this engine does not own, e.g. the
    # external driver's; runtime-settable, measured r13).
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
    )
    # NOTE: leave spark.sql.adaptive.coalescePartitions.parallelismFirst at
    # its default (true). With false, AQE coalesces toward the 64 MB
    # advisory size, which at bench scale collapses post-shuffle stages to
    # ~1 partition and serializes them (~15% total slowdown at sf0.1); the
    # empty-task overhead it was meant to shave is already handled by
    # capping shuffle.partitions at defaultParallelism above (instead of
    # the stock 200).
    spark.conf.set(_TUNED_FLAG, "1")


# Resolved-relation memo: (applicationId, sf_dir, name) -> DataFrame.
# ``spark.read.parquet`` costs ~0.1 s PER CALL (driver-side file listing
# + footer/schema resolution over py4j — measured r13), and a 6-table
# join paid it six times per query construction. The memo returns the
# same resolved DataFrame object, so repeated query builds share one
# relation plan instead of re-listing immutable testdata. METADATA only
# — no rows are cached or persisted; every execution still computes
# from the parquet input (this is the per-session analog of the
# reference harness registering its tables once, tpcds/Tables.scala:
# 174-193). Keyed by applicationId so a new session never sees another
# session's relations; testdata paths are immutable for a round, so a
# stale FileIndex cannot arise.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Lazy: just the parquet footer is read
    (once per session per table — see _TABLE_MEMO).

    `events.parquet` has shipped as TIMESTAMP(NANOS) and as
    TIMESTAMP(MICROS) across harness rounds; `_ts_as_timestamp`
    normalizes either to a microsecond TIMESTAMP so both engines see
    identical values.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Defensive: oracle comparisons require UTC timestamp semantics, and
    # the caller's session (e.g. the external driver's) may not set it.
    # Runtime-settable; affects literal parsing + collection uniformly.
    tune_session(spark)
    app_id = spark.sparkContext.applicationId
    # The nanosAsLong conf is per-SESSION while the memo is per-APP: a
    # second session sharing the SparkContext (newSession/clone) would
    # hit the memo with the conf never set on it and misread
    # TIMESTAMP(NANOS) events data at execution time (r13 ADVICE). Set
    # it unconditionally, before the memo lookup.
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Evict entries from stopped applications (r13 ADVICE): a
    # long-lived process cycling sessions would otherwise pin dead
    # DataFrame/py4j references for its lifetime. Single-app processes
    # keep at most one generation.
    for stale in [k for k in _TABLE_MEMO if k[0] != app_id]:
        del _TABLE_MEMO[stale]
    key = (app_id, sf_dir, name)
    df = _TABLE_MEMO.get(key)
    if df is None:
        if name == "events":
            raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            df = raw.withColumn("ts", _ts_as_timestamp(raw))
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _TABLE_MEMO[key] = df
    return df


def _ts_as_timestamp(df: DataFrame) -> Column:
    """Normalize `events.ts` to a microsecond TIMESTAMP (UTC session tz).

    The harness testdata has shipped two physical encodings across
    rounds: TIMESTAMP(NANOS) (read as long via the legacy conf, then
    truncated to micros — the truncation DuckDB applies casting
    TIMESTAMP_NS to TIMESTAMP) and plain TIMESTAMP(MICROS) (arrives as
    TIMESTAMP_NTZ; a wall-clock-preserving cast under the UTC session).
    Dispatch on the loaded type so both read identically.
    """
    kind = df.schema["ts"].dataType.typeName()
    if kind == "long":
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def fan_out(df: DataFrame, key: str = "id") -> DataFrame:
    """One narrow exchange when the source plans fewer partitions than
    the session's parallelism — the single-row-group testdata case,
    where the scan stage (and everything codegen pipelines into it:
    n-gram explode, per-gram hashing, partial aggregation) would
    otherwise run on ONE core while 31 idle. No-op on an already-
    parallel scan (the 100 TB case, where an extra shuffle of the text
    relation before the aggregate's own exchange would be pure waste) —
    scan parallelism derives from the input layout, not from a constant
    tuned for either scale (guide §2.5/§6). Only worth applying above
    compute-heavy per-row pipelines; for decode-bound scans the
    exchange costs more than it frees (measured: q1 regressed).

    Batch frames only: reading the partition count builds the physical
    plan (``df.rdd``), which raises on a streaming frame, and any
    planning error surfaces here rather than being swallowed."""
    sc = df.sparkSession.sparkContext
    n = df.rdd.getNumPartitions()
    if 2 * n >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism, key)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL entry points)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
