"""Bucketing (shuffle-free joins), salting (skew spreading), scan
fan-out and at-rest partition sizing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_TINY


def test_bucketed_join_has_no_exchange(spark):
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.plans.layout import bucketed_join, write_bucketed

    orders = table(spark, SF_DIR_TINY, "orders")
    li = table(spark, SF_DIR_TINY, "lineitem")
    write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=4, sort_by="o_orderkey")
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", "o_orderkey", n_buckets=4, sort_by="o_orderkey",
    )
    try:
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bucketed_join(spark, "b_orders", "b_lineitem", on="o_orderkey")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert df.count() == 6000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salt_join_preserves_semantics(spark):
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.plans.layout import salt_join

    orders = table(spark, SF_DIR_TINY, "orders")
    cust = table(spark, SF_DIR_TINY, "customer")
    plain = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
    salted = salt_join(orders, cust, "o_custkey", "c_custkey", n_salts=4).count()
    assert salted == plain == 1500


def test_salt_join_spreads_hot_key(spark):
    from spark_sql_perf_spark.plans.layout import salt_join

    # one pathological key holding 90% of rows
    left = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(100).select(F.col("id").alias("k2"), F.lit("dim").alias("v"))
    out = salt_join(left, right, "k", "k2", n_salts=8)
    # exact semantics: only k<100 rows match; k=7 rows all match
    expected = left.join(right, left.k == right.k2).count()
    assert out.count() == expected
    # the salted key column spreads the hot key across multiple sub-keys
    spread = (
        left.withColumn("_salt", F.abs(F.xxhash64("k", F.monotonically_increasing_id())) % 8)
        .where(F.col("k") == 7)
        .select("_salt")
        .distinct()
        .count()
    )
    assert spread == 8


def test_partitioned_fact_write_prunes_partitions(spark, tmp_path):
    """The reference writes facts hive-partitioned on their date key
    (tpcds/Tables.scala:131-170); a date-filtered scan over that layout
    must prune at the partition level (PartitionFilters in the scan), the
    dominant scan lever at 100 TB."""
    from spark_sql_perf_spark.sources.datagen import write_tpcds

    loc = str(tmp_path / "tpcds_part")
    write_tpcds(spark, "store_sales", loc, scale=0.001)
    ss = spark.read.parquet(f"{loc}/store_sales")

    lo, hi = 2451149, 2451179
    df = ss.where(F.col("ss_sold_date_sk").between(lo, hi)).groupBy(
        "ss_store_sk"
    ).count()
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    filters = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0].strip()
    assert filters, f"no partition filters pushed:\n{plan}"
    assert "ss_sold_date_sk" in filters
    # the filter column never appears as a data (parquet) filter — it only
    # exists in the directory structure
    n_all = ss.count()
    n_pruned = ss.where(F.col("ss_sold_date_sk").between(lo, hi)).count()
    assert 0 < n_pruned < n_all


def test_l3_scan_prunes_event_type_partitions(spark):
    """l3's scan must carry the event_type predicate as a PartitionFilter
    (directory pruning), not a data filter — at 100 TB the two selected
    event-type directories are read, nothing else is even listed."""
    from spark_sql_perf_spark.operators.layout_query import l3_partition_pruned_scan

    df = l3_partition_pruned_scan(spark, SF_DIR_TINY)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    filters = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0].strip()
    assert "event_type" in filters and "IN (click,purchase)" in filters, plan
    # the partition column exists only in directory names, never in data
    assert "PushedFilters: []" in scan, scan


def _overlapping_files(path: str, boxes: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """(files whose footer min/max intersects every box, total files)."""
    import glob as g

    import pyarrow.parquet as pq

    files = sorted(g.glob(f"{path}/*.parquet"))
    hit = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        overlap = True
        for col, (lo, hi) in boxes.items():
            idx = names.index(col)
            stats = [
                md.row_group(r).column(idx).statistics
                for r in range(md.num_row_groups)
            ]
            if any(st is None for st in stats):
                continue  # no stats written -> reader can't skip: overlapping
            cmin = min(st.min for st in stats)
            cmax = max(st.max for st in stats)
            if cmax < lo or cmin > hi:
                overlap = False
                break
        if overlap:
            hit += 1
    return hit, len(files)


def test_l4_zorder_skips_more_files_than_linear_sort(spark, tmp_path):
    """The point of Z-ordering: on a 2-D range box, footer min/max stats
    over the Z-ordered layout eliminate most files, while a 1-D
    l_orderkey sort (keys uncorrelated with the box) eliminates none.
    Row decoding then touches only the surviving fraction — the data-skip
    lever that scales with cluster size for free."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.operators.layout_query import zorder_lineitem_dir

    zdir = zorder_lineitem_dir(spark, SF_DIR_TINY)
    ldir = str(tmp_path / "lineitem_linear")
    (
        table(spark, SF_DIR_TINY, "lineitem")
        .repartitionByRange(16, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )
    # sf0.001 ranges: l_partkey 0..199, l_suppkey 0..9 — a ~20%×~30% box
    boxes = {"l_partkey": (50, 90), "l_suppkey": (2, 4)}
    z_hit, z_total = _overlapping_files(zdir, boxes)
    l_hit, l_total = _overlapping_files(ldir, boxes)
    assert z_total == l_total == 16
    assert l_hit == 16, "l_orderkey sort should leave every file overlapping"
    assert z_hit < l_hit // 2, f"z-order skipped too little: {z_hit}/{z_total}"
    # identical result set from both layouts
    from pyspark.sql import functions as SF
    pred = (
        SF.col("l_partkey").between(*boxes["l_partkey"])
        & SF.col("l_suppkey").between(*boxes["l_suppkey"])
    )
    assert (
        spark.read.parquet(zdir).filter(pred).count()
        == spark.read.parquet(ldir).filter(pred).count()
    )


def test_partitioned_write_not_null_partition_column(spark, tmp_path):
    """NOT-NULL filtering on the partition key (Tables.scala:168-170):
    no __HIVE_DEFAULT_PARTITION__ directory appears."""
    import os

    from spark_sql_perf_spark.sources.datagen import write_tpcds

    loc = str(tmp_path / "tpcds_nn")
    write_tpcds(spark, "store_returns", loc, scale=0.001)
    dirs = os.listdir(f"{loc}/store_returns")
    assert not any("HIVE_DEFAULT_PARTITION" in d for d in dirs), dirs
    assert any(d.startswith("sr_returned_date_sk=") for d in dirs)


def test_fan_out_hash_partitions_a_narrow_frame(spark):
    from spark_sql_perf_spark.catalog import fan_out

    dp = spark.sparkContext.defaultParallelism
    df = spark.range(40, numPartitions=1).select(F.col("id").alias("key"))
    out = fan_out(df, key="key")
    assert out.rdd.getNumPartitions() == dp
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(key#" in plan and f", {dp})" in plan, plan
    assert sorted(r.key for r in out.collect()) == list(range(40))


def test_fan_out_leaves_a_parallel_frame_alone(spark):
    from spark_sql_perf_spark.catalog import fan_out

    dp = spark.sparkContext.defaultParallelism
    for n in {(dp + 1) // 2, dp}:
        df = spark.range(40, numPartitions=n).select(F.col("id").alias("key"))
        assert fan_out(df, key="key") is df


def test_fan_out_does_not_swallow_planning_errors(spark):
    """A frame that cannot be planned as a batch (here a streaming one)
    raises instead of coming back unchanged."""
    import pytest
    from pyspark.errors import AnalysisException

    from spark_sql_perf_spark.catalog import fan_out

    stream = spark.readStream.format("rate").load()
    with pytest.raises(AnalysisException):
        fan_out(stream, key="value")


def test_sized_parts_rule():
    """The at-rest index layout rule: a power of two, monotone in rows,
    one directory for a 1,000-document index and at least 64 for a
    1 M-document one, never above MAX_PARTS."""
    from spark_sql_perf_spark.plans.layout import MAX_PARTS, sized_parts

    assert sized_parts(1_000) == 1
    assert sized_parts(1_000_000) >= 64
    assert sized_parts(0) == 1
    assert sized_parts(10**12) == MAX_PARTS
    prev = 1
    for rows in [0, 1, 1_000, *(10**k + d for k in range(4, 11) for d in (-1, 0, 1))]:
        p = sized_parts(rows)
        assert p & (p - 1) == 0 and 1 <= p <= MAX_PARTS, (rows, p)
        assert p >= prev, (rows, p, prev)
        assert p == MAX_PARTS or rows <= p * (1 << 14), (rows, p)
        prev = p
