"""Window-function surface extensions: ntile, numeric RANGE frames,
first/last_value with explicit frames, percent_rank/cume_dist.

None of these appear in the reference corpus (SURVEY.md §2.5 negative
finding) but they complete the window surface a migrating user expects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import table
from .registry import dec, query


def _with_global_rank(
    df: DataFrame, order: list[Column], n_parts: int = 32
) -> tuple[DataFrame, int]:
    """Scale-safe global row_number: range-repartition on the sort key,
    rank within each partition, then add broadcast per-partition offsets.

    A bare ``Window.orderBy(...)`` funnels the whole table through ONE
    reducer — fine at sf0.01, fatal at 100 TB. This is the classic
    two-pass formulation: one range shuffle (parallel), one tiny counts
    job (n_parts rows to the driver), one partition-local window. The
    order must be total (include a unique tiebreak column) for the result
    to be deterministic.

    The range-partitioned frame is materialized before the counts job:
    ``repartitionByRange`` samples its boundaries nondeterministically,
    so a re-executed plan could place rows in other partitions than
    the ones the offsets were computed for.

    Returns (df with ``_rank``, total row count).
    """
    parted = memo.materialize(
        df.repartitionByRange(n_parts, *order).withColumn(
            "_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    counts = {r["_pid"]: r["count"] for r in parted.groupBy("_pid").count().collect()}
    total = sum(counts.values())
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
    )
    local = F.row_number().over(Window.partitionBy("_pid").orderBy(*order))
    return (
        parted.withColumn("_rank", (local + off_map[F.col("_pid")]).cast("long")),
        total,
    )


@query(
    "w8_ntile_buckets",
    oracle="""
    SELECT c_custkey, c_acctbal,
           NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    """,
)
def w8_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile(4) without a global window: two-pass rank, then the
    ntile bucket arithmetic (first n%k buckets get ceil(n/k) rows)."""
    cust = table(spark, sf_dir, "customer")
    ranked, n = _with_global_rank(
        cust, [F.desc("c_acctbal"), F.asc("c_custkey")]
    )
    k = 4
    q, rem = divmod(n, k)
    big = rem * (q + 1)  # rows covered by the (q+1)-sized leading buckets
    r = F.col("_rank")
    quartile = F.when(r <= big, F.ceil(r / F.lit(q + 1))).otherwise(
        F.lit(rem) + F.ceil((r - F.lit(big)) / F.lit(max(q, 1)))
    )
    return ranked.select(
        "c_custkey", "c_acctbal", quartile.cast("long").alias("quartile")
    )


@query(
    "w9_range_frame",
    oracle="""
    WITH sized AS (SELECT p_brand, p_size, p_partkey, p_retailprice FROM part)
    SELECT p_partkey, p_brand, p_size,
           COUNT(*) OVER (PARTITION BY p_brand ORDER BY p_size
                          RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_near_sizes,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY p_brand ORDER BY p_size
                 RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_price_sum
    FROM sized
    """,
)
def w9_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE frame (value-based window: all rows within 2 size
    units). Unlike ROWS frames, RANGE ties are frame-stable so the decimal
    sum is deterministic without a unique tiebreak."""
    part = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_size").rangeBetween(-2, 0)
    return part.select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.count(F.lit(1)).over(w).alias("n_near_sizes"),
        F.sum(dec("p_retailprice")).over(w).cast("double").alias("near_price_sum"),
    )


@query(
    "w10_first_last_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w10_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value with the full-partition frame for last
    (the default growing frame would return the current row)."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
    )


@query(
    "w11_percent_rank_cume",
    oracle="""
    SELECT p_partkey, p_retailprice,
           ROUND(PERCENT_RANK() OVER (ORDER BY p_retailprice, p_partkey), 9) AS pct_rank,
           ROUND(CUME_DIST() OVER (ORDER BY p_retailprice, p_partkey), 9) AS cume
    FROM part
    """,
)
def w11_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist via the two-pass global rank (the sort key
    includes the unique p_partkey, so rank == row_number and
    percent_rank = (r-1)/(n-1), cume_dist = r/n — same values the global
    window produces, without the single-reducer sort)."""
    part = table(spark, sf_dir, "part")
    ranked, n = _with_global_rank(
        part, [F.asc("p_retailprice"), F.asc("p_partkey")]
    )
    r = F.col("_rank")
    pct = (
        F.round((r - 1) / F.lit(n - 1), 9) if n > 1 else F.lit(0.0)
    )
    return ranked.select(
        "p_partkey",
        "p_retailprice",
        pct.alias("pct_rank"),
        F.round(r / F.lit(n), 9).alias("cume"),
    )
