"""Physical-layout operators as oracle-checked queries: repartition /
sortWithinPartitions (the DataFrame side of tpcds/Tables.scala:143-156
DISTRIBUTE BY pre-clustering), the SQL DISTRIBUTE BY form, Hive-style
directory partitioning with pruned reads (tpcds/Tables.scala:157-172's
``partitionColumns`` write path), and Z-order multi-dimensional
clustering for range-scan data skipping. Layout ops change the physical
distribution, never the result set — which is exactly what the oracle
verifies; the *pruning* each layout buys is asserted on the executed
plans and parquet footers in tests/test_layout.py.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register_views, table
from .registry import dec, query


@query(
    "l1_repartition_cluster_agg",
    oracle="""
    SELECT l_suppkey,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def l1_repartition_cluster_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartition(key) + sortWithinPartitions before aggregating — the
    pre-clustered write path (`DISTRIBUTE BY` + sort) expressed in the
    DataFrame API; the aggregation reuses the repartition's hash
    distribution instead of adding its own exchange."""
    li = table(spark, sf_dir, "lineitem")
    clustered = li.repartition(8, "l_suppkey").sortWithinPartitions("l_suppkey")
    return clustered.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
    )


_DISTRIBUTE_SQL_SPARK = """
    SELECT o_orderstatus, o_orderkey, o_totalprice
    FROM (SELECT * FROM orders DISTRIBUTE BY o_orderstatus SORT BY o_orderstatus, o_orderkey)
    WHERE o_totalprice > 100000
"""

_DISTRIBUTE_SQL_ORACLE = """
    SELECT o_orderstatus, o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 100000
"""


@query("l2_distribute_sort_by", oracle=_DISTRIBUTE_SQL_ORACLE)
def l2_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DISTRIBUTE BY / SORT BY (Hive-style pre-clustering clauses;
    result set unchanged, distribution hash-partitioned per key)."""
    register_views(spark, sf_dir)
    return spark.sql(_DISTRIBUTE_SQL_SPARK)


# ---------------------------------------------------------------------------
# Derived on-disk layouts. Built once per (layout, sf_dir) per process in a
# scratch dir removed at exit; a bench min-of-N loop re-reads the layout, it
# does not rewrite it. Disk-only: no executor storage to release.
# ---------------------------------------------------------------------------

_LAYOUT_DIRS: dict[tuple[str, str], str] = {}


def _layout_dir(kind: str, sf_dir: str, build) -> str:
    key = (kind, sf_dir)
    if key not in _LAYOUT_DIRS:
        path = tempfile.mkdtemp(prefix=f"spark_sql_perf_{kind}_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build(path)
        _LAYOUT_DIRS[key] = path
    return _LAYOUT_DIRS[key]


def partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """events rewritten Hive-partitioned by event_type (the reference's
    ``partitionColumns`` write path, tpcds/Tables.scala:157-172). At 100 TB
    this is the difference between scanning every byte and scanning the one
    event-type directory a query touches."""
    def build(path: str) -> None:
        table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(path)

    return _layout_dir("events_by_type", sf_dir, build)


_L3_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
"""


@query("l3_partition_pruned_scan", oracle=_L3_ORACLE)
def l3_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a Hive-partitioned copy of events with a partition
    predicate: the scan lists only the click/ and purchase/ directories
    (PartitionFilters in the plan — asserted in tests/test_layout.py), so
    scan cost tracks the selected partitions, not the table. The oracle
    runs the same aggregate on the unpartitioned source: layout must not
    change the result."""
    ev = spark.read.parquet(partitioned_events_dir(spark, sf_dir))
    return (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
    )


def morton_code(x, y, bits: int = 10):
    """Interleave the low ``bits`` of two non-negative int columns into a
    Morton (Z-order) code — pure codegen'd bit arithmetic, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        xb = F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1))
        yb = F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(xb, 2 * i + 1)).bitwiseOR(
            F.shiftleft(yb, 2 * i)
        )
    return z


def zorder_lineitem_dir(spark: SparkSession, sf_dir: str, n_files: int = 16) -> str:
    """lineitem rewritten clustered by the Morton code of
    (l_partkey, l_suppkey), each column min-max binned to 10 bits first so
    the code is rank-based and works at any key range / scale factor (the
    same construction Delta/Iceberg Z-ordering uses). Range-partitioned +
    sorted by the code, so each output file covers a small Z-curve segment
    and its parquet footer min/max on BOTH keys is tight — a 2-D range
    predicate then skips most files (asserted on real footers in
    tests/test_layout.py). A 1-D sort can only be tight on one key."""
    def build(path: str) -> None:
        li = table(spark, sf_dir, "lineitem")
        stats = li.agg(
            F.min("l_partkey").alias("_pmin"),
            F.max("l_partkey").alias("_pmax"),
            F.min("l_suppkey").alias("_smin"),
            F.max("l_suppkey").alias("_smax"),
        )
        # 1-row stats frame: broadcast cross join, never a collect
        with_stats = li.crossJoin(F.broadcast(stats))
        scale = F.lit(1023)

        def bin_col(c: str, lo: str, hi: str):
            span = F.greatest(F.col(hi) - F.col(lo), F.lit(1))
            return (F.col(c) - F.col(lo)) * scale / span

        z = morton_code(
            F.floor(bin_col("l_partkey", "_pmin", "_pmax")),
            F.floor(bin_col("l_suppkey", "_smin", "_smax")),
        )
        (
            with_stats.withColumn("_z", z)
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z", "_pmin", "_pmax", "_smin", "_smax")
            .write.mode("overwrite")
            .parquet(path)
        )

    return _layout_dir("lineitem_zorder", sf_dir, build)


_L4_ORACLE = """
    SELECT l_suppkey,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40
    GROUP BY l_suppkey
"""


@query("l4_zorder_range_scan", oracle=_L4_ORACLE)
def l4_zorder_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D range scan over the Z-ordered lineitem copy: both range
    predicates reach the parquet scan as PushedFilters, and because the
    layout clusters both keys simultaneously, file/row-group min-max
    statistics eliminate most of the table before any row is decoded.
    The oracle runs the identical predicate on the unclustered source."""
    li = spark.read.parquet(zorder_lineitem_dir(spark, sf_dir))
    return (
        li.filter(F.col("l_partkey").between(100, 300))
        .filter(F.col("l_suppkey").between(10, 40))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )
