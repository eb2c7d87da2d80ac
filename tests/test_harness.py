"""Harness tests: execution modes, variations cartesian product, phase
timing, timeout machinery, results store + analysis."""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import SF_DIR_TINY


def _q(name="flagship_star_agg", mode=None):
    from spark_sql_perf_spark.modes import FOREACH
    from spark_sql_perf_spark.operators import QUERIES
    from spark_sql_perf_spark.query import Query

    return Query(
        name=name,
        build=lambda s: QUERIES[name](s, SF_DIR_TINY),
        mode=mode or FOREACH,
    )


def test_runner_cpu_profile(spark, tmp_path):
    """include_profile: the sampled-stack profiler (CpuProfile
    re-expression) ticks during execution and records well-formed
    collapsed-stack lines over executor task threads."""
    from pyspark.sql import functions as F

    from spark_sql_perf_spark.query import Query
    from spark_sql_perf_spark.runner import ExperimentRunner
    from spark_sql_perf_spark.sources.datagen import two_groups

    runner = ExperimentRunner(spark, results_location=str(tmp_path))
    # grow the workload until the sampler catches executor threads on
    # CPU — a warm JIT can finish small aggregations between ticks. The
    # top size repeats once: under a fully loaded suite the py4j tick
    # round-trips themselves get starved and a single 64M attempt can
    # sample zero executor threads (observed r10, full-suite run; the
    # test passes in isolation every time).
    for rows in (4_000_000, 16_000_000, 64_000_000, 64_000_000):
        q = Query(
            name="profile_me",
            build=lambda s, r=rows: two_groups(s, r).groupBy("a").agg(
                F.sum("b").alias("s")
            ),
        )
        res = runner.run_query(q, include_profile=True)
        assert res.failure is None, res.failure
        if res.profile["collapsed"]:
            break
    assert res.profile is not None
    assert res.profile["n_ticks"] > 0
    for line in res.profile["collapsed"]:
        stack, _, count = line.rpartition(" ")
        assert stack and count.isdigit(), line
        assert ";;" not in stack and not stack.startswith(";"), line
    # the sampler targeted executor task threads, so Spark's task runner
    # must appear as a root frame in at least one stack
    assert any(
        "Executor$TaskRunner" in line or "ThreadPoolExecutor" in line
        for line in res.profile["collapsed"]
    ), res.profile["collapsed"][:5]


def test_runner_evicts_module_memos(spark, tmp_path):
    """A run that ENDS on materializing queries (w8's two-pass rank,
    d2's checkpoints) must not leave storage pinned: the runner's
    iteration-boundary release frees every materialized frame and the
    session cache manager is left empty."""
    from spark_sql_perf_spark import memo
    from spark_sql_perf_spark.runner import ExperimentRunner

    memo.release_all()
    jsc = spark.sparkContext._jsc
    base = {int(k) for k in jsc.getPersistentRDDs().keySet()}
    runner = ExperimentRunner(
        spark, results_location=str(tmp_path / "results"), timeout_s=120
    )
    runs = runner.run_experiment(
        [_q("d2_dedup_minhash_lsh"), _q("w8_ntile_buckets")], iterations=1
    )
    for res in runs[0].results:
        assert res.failure is None, res.failure
    assert not memo._TRACKED
    # older leftovers may be garbage-collected meanwhile; nothing the
    # run persisted may remain
    left = {int(k) for k in jsc.getPersistentRDDs().keySet()}
    assert left <= base, f"still persisted: {left - base}"
    # nothing left in the Spark-side cache manager either
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_execution_modes(spark, tmp_path):
    from spark_sql_perf_spark import modes
    from spark_sql_perf_spark.operators import QUERIES

    df = QUERIES["q1_pricing_summary"](spark, SF_DIR_TINY)
    assert modes.COLLECT.consume(df, "q") is None
    assert modes.FOREACH.consume(df, "q") is None
    assert modes.COUNT.consume(df, "q") == 6
    h1 = modes.HASH.consume(df, "q")
    h2 = modes.HASH.consume(df, "q")
    assert h1 == h2 and h1 is not None  # run-to-run stable fingerprint
    wp = modes.write_parquet(str(tmp_path))
    wp.consume(df, "q1")
    assert spark.read.parquet(str(tmp_path / "q1.parquet")).count() == 6


def test_variation_cartesian():
    from spark_sql_perf_spark.query import Variation, cartesian

    v1 = Variation.conf("spark.sql.adaptive.enabled", ["true", "false"])
    v2 = Variation.conf("spark.sql.shuffle.partitions", [4, 8])
    combos = cartesian([v1, v2])
    assert len(combos) == 4
    assert cartesian([]) == [[]]


def test_runner_end_to_end(spark, tmp_path):
    from spark_sql_perf_spark.analyze import load_results, summarize
    from spark_sql_perf_spark.query import Variation
    from spark_sql_perf_spark.runner import ExperimentRunner

    runner = ExperimentRunner(
        spark, results_location=str(tmp_path / "results"), timeout_s=120
    )
    runs = runner.run_experiment(
        [_q("flagship_star_agg"), _q("j4_chain_join")],
        iterations=2,
        variations=[Variation.conf("spark.sql.adaptive.enabled", ["true", "false"])],
    )
    assert len(runs) == 4  # 2 iterations x 2 variation options
    for run in runs:
        for res in run.results:
            assert res.failure is None, res.failure
            assert res.execution_time_ms > 0
            assert res.planning_time_ms is not None
    # flagship has a broadcast join in the plan
    assert any("Join" in j for j in runs[0].results[0].join_types)

    # results store is JSON-lines loadable and summarizable
    ts_dirs = os.listdir(tmp_path / "results")
    assert len(ts_dirs) == 1 and ts_dirs[0].startswith("timestamp=")
    line = open(tmp_path / "results" / ts_dirs[0] / "results.json").readline()
    assert json.loads(line)["iteration"] == 1

    summary = summarize(load_results(spark, str(tmp_path / "results")))
    rows = {r["name"]: r for r in summary.collect()}
    assert rows["flagship_star_agg"]["runs"] == 4
    assert rows["j4_chain_join"]["avg_ms"] > 0


def test_runner_records_failure(spark, tmp_path):
    from spark_sql_perf_spark.query import Query
    from spark_sql_perf_spark.runner import ExperimentRunner

    bad = Query(name="bad", build=lambda s: s.sql("SELECT * FROM missing_table"))
    res = ExperimentRunner(spark, results_location=str(tmp_path)).run_query(bad)
    assert res.failure is not None and "missing_table" in res.failure


def test_timeout_cancels(spark):
    from spark_sql_perf_spark.runner import BenchmarkTimeout, _run_with_timeout

    def slow():
        # a genuinely slow distributed job (10^12-row cross join)
        spark.range(1 << 20).crossJoin(spark.range(1 << 20)).count()

    with pytest.raises(BenchmarkTimeout):
        _run_with_timeout(spark, "slow-test", slow, timeout_s=2.0)


def test_sql_query_path(spark):
    from spark_sql_perf_spark.catalog import register_views
    from spark_sql_perf_spark.modes import COUNT
    from spark_sql_perf_spark.query import Query
    from spark_sql_perf_spark.runner import ExperimentRunner

    register_views(spark, SF_DIR_TINY)
    q = Query.from_sql(
        "sql_smoke",
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus",
        mode=COUNT,
    )
    res = ExperimentRunner(spark, results_location="/tmp/unused").run_query(q)
    assert res.failure is None and res.result == 3


def test_run_ml_benchmarkable(spark):
    from spark_sql_perf_spark.runner import ExperimentRunner

    res = ExperimentRunner(spark, results_location="/tmp/unused").run_ml(
        "logistic_regression", {"maxIter": 5}
    )
    assert res.failure is None, res.failure
    assert res.execution_time_ms > 0
    assert res.ml_params["maxIter"] == 5
    assert res.ml_result["train"] > 0.7
