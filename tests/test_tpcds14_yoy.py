"""Volume-driven TPC-DS family (q4/q11/q74/q72/q13/q85/q91) at sf0.1.

These queries' result sets are data-VOLUME properties, not
predicate-vocabulary ones: q4/q11/q74 need the same customer active in
two sales channels in two consecutive years (expected two-year store∩web
count at sf0.01 is ~3, at sf0.1 hundreds); q72 needs a catalog sale to
hit a tracked-inventory item under a double-demographics filter
(tracked items are 0.5% of the item space at sf0.01, 5% at sf0.1);
q13/q85/q91 AND a demographics-pair filter (~2-9% selectivity) with an
address/profit battery, so their surviving-row count is linear in fact
volume. So this family gets its own engine-vs-engine fixture at the
larger scale.

Runs after test_tpcds14_suite (pytest module order is alphabetical),
re-registering the shared temp-view names at sf0.1.
"""

from __future__ import annotations

import pytest

from spark_sql_perf_spark.operators.tpcds14_suite import (
    TPCDS14_QUERIES,
    TPCDS14_TABLES,
    TPCDS14_YOY,
)

from test_impala_suite import _compare

SCALE = 0.1
YOY_TABLES = TPCDS14_TABLES


@pytest.fixture(scope="module")
def corpus_yoy(spark, duck, tmp_path_factory):
    from spark_sql_perf_spark.sources.datagen import gen_tpcds

    root = tmp_path_factory.mktemp("tpcds14_yoy")
    for name in YOY_TABLES:
        path = str(root / name)
        gen_tpcds(spark, name, SCALE).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView(name)
        duck.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{path}/*.parquet')"
        )
    return spark


def _scan_count(df, tbl: str) -> int:
    """Parquet scans of ``tbl`` in the executed plan. A materialized CTE
    is a leaf (``Scan ExistingRDD``): its own plan ran when it was
    materialized and is not part of this one."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Scan parquet" in line.split("Location")[0] and f"/{tbl}" in line
    )


@pytest.mark.parametrize("name,tbl", [("q14a", "item"), ("q24a", "store_sales")])
def test_materialized_cte_mode(corpus_yoy, name, tbl):
    """Scale mode: shared CTEs materialized + executed once. Results
    identical to the inlined execution; the per-CTE table re-scan is
    gone (plain q14a scans item 3x inside cross_items alone;
    materialized, the final plan reads the checkpointed CTE and scans
    item only in the channel branches — for q24a's ssales the final
    plan scans store_sales 0x)."""
    from spark_sql_perf_spark import memo
    from spark_sql_perf_spark.operators.tpcds14_suite import (
        TPCDS14_QUERIES,
        run_materialized,
    )

    plain = corpus_yoy.sql(TPCDS14_QUERIES[name]).toPandas()
    try:
        mat = run_materialized(corpus_yoy, name).toPandas()
        _compare(mat, plain, f"{name} materialized-vs-inlined")
    finally:
        memo.release_all()
    # plan-shape assertion on fresh, UNEXECUTED frames with AQE off —
    # an executed AdaptiveSparkPlan prints Final + Initial sections,
    # which double-counts every scan in the text dump
    corpus_yoy.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        n_plain = _scan_count(corpus_yoy.sql(TPCDS14_QUERIES[name]), tbl)
        n_mat = _scan_count(run_materialized(corpus_yoy, name), tbl)
        assert n_mat < n_plain, (name, tbl, n_mat, n_plain)
        # the shared CTE itself no longer re-scans its fact input: for
        # q24a every store_sales scan lived in ssales -> 0 remain
        if name == "q24a":
            assert n_mat == 0, f"store_sales still scanned {n_mat}x"
    finally:
        corpus_yoy.conf.set("spark.sql.adaptive.enabled", "true")
        memo.release_all()


@pytest.mark.parametrize("name", sorted(TPCDS14_YOY))
def test_yoy_query_matches_duckdb(corpus_yoy, duck, name):
    sql = TPCDS14_QUERIES[name]
    sp = corpus_yoy.sql(sql).toPandas()
    du = duck.execute(sql).df()
    assert len(sp) > 0, f"{name}: empty result at scale {SCALE}"
    # a bare-aggregate query (q13) returns one all-NULL row over an empty
    # input — that is a degenerate "pass", not evidence
    assert not sp.dropna(how="all").empty, f"{name}: all-NULL result"
    _compare(sp, du, name)
