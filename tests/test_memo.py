"""One lifetime rule for materialized intermediates (``memo.py``).

The behavioural guard: whatever the library materializes while a runner
iteration executes is gone once the iteration ends — the JVM's
persistent-RDD map is back to its pre-run set, the cache manager is
empty and no temp view was left behind. The lint keeps a second
materialization regime from growing back.
"""

from __future__ import annotations

import io
import os
import tokenize

from tests.conftest import SF_DIR_TINY

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark_sql_perf_spark",
)

_QUERIES = (
    "g3_triangle_count",
    "w8_ntile_buckets",
    "c6_sequence_packing",
    "c13_e2e_mix",
    "d9_span_excise",
    "d2_dedup_minhash_lsh",
    "sql7_recursive_cte",
)


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _storage_state(spark):
    return (
        _persistent_ids(spark),
        bool(spark._jsparkSession.sharedState().cacheManager().isEmpty()),
        _temp_views(spark),
    )


def test_runner_releases_storage_every_iteration(spark, tmp_path):
    from spark_sql_perf_spark import memo
    from spark_sql_perf_spark.modes import COUNT
    from spark_sql_perf_spark.operators import QUERIES
    from spark_sql_perf_spark.operators.tpcds14_suite import (
        TPCDS14_TABLES,
        register_tpcds14,
        run_materialized,
    )
    from spark_sql_perf_spark.query import Query, Variation
    from spark_sql_perf_spark.runner import ExperimentRunner

    memo.release_all()
    preexisting = _temp_views(spark)
    register_tpcds14(spark, scale=0.01)
    try:
        before = _storage_state(spark)
        assert before[1], "cache manager not empty before the run"
        held: list[set[int]] = []
        boundaries = []

        def hold_probe(s):
            # runs last in each iteration: what the queries left held
            held.append(_persistent_ids(s) - before[0])
            return s.range(1)

        queries = [
            Query(n, build=lambda s, _n=n: QUERIES[_n](s, SF_DIR_TINY), mode=COUNT)
            for n in _QUERIES
        ]
        queries.append(
            Query("q24a", build=lambda s: run_materialized(s, "q24a"), mode=COUNT)
        )
        queries.append(Query("hold_probe", build=hold_probe, mode=COUNT))
        # a variation's setup runs at the start of every iteration, so
        # from the second iteration on it sees the previous one's end
        boundary = Variation(
            "boundary", [0], lambda s, _: boundaries.append(_storage_state(s))
        )
        runner = ExperimentRunner(
            spark, results_location=str(tmp_path / "results"), timeout_s=300
        )
        runs = runner.run_experiment(queries, iterations=2, variations=[boundary])
        boundaries.append(_storage_state(spark))

        for run in runs:
            for res in run.results:
                assert res.failure is None, (res.name, res.failure)
        assert len(held) == 2 and all(held), f"nothing was materialized: {held}"
        assert len(boundaries) == 3
        for rdds, cache_empty, views in boundaries:
            # older leftovers may be garbage-collected meanwhile; nothing
            # the run persisted may remain
            assert rdds <= before[0], f"still persisted: {rdds - before[0]}"
            assert cache_empty, "cache manager not empty"
            assert views == before[2], (views - before[2], before[2] - views)
    finally:
        for name in set(TPCDS14_TABLES) - preexisting:
            spark.catalog.dropTempView(name)


def test_bench_sampler_releases_storage_after_every_sample(spark, monkeypatch):
    """bench.py's min-of-N loop (and `tools/ab.py time`) sample through
    ``bench.sample_query``: what a sample materialized is freed before
    the next one starts, so nothing is held between samples or after
    the query."""
    import bench
    from spark_sql_perf_spark import memo
    from spark_sql_perf_spark.operators import QUERIES

    memo.release_all()
    before = _storage_state(spark)
    held_after_consume = []
    real_consume = bench.consume

    def consume(df):
        real_consume(df)
        held_after_consume.append(len(memo._TRACKED))

    monkeypatch.setattr(bench, "consume", consume)
    times = bench.sample_query(
        spark, SF_DIR_TINY, QUERIES["d2_dedup_minhash_lsh"], 2
    )
    assert len(times) == 2 and all(t > 0 for t in times)
    # each sample did hold materialized frames when its consume ended
    assert len(held_after_consume) == 2 and all(held_after_consume)
    rdds, cache_empty, views = _storage_state(spark)
    assert not memo._TRACKED
    assert rdds <= before[0], f"still persisted: {rdds - before[0]}"
    assert cache_empty, "cache manager not empty"
    assert views == before[2]


def _code_calls(path: str) -> list[tuple[int, str]]:
    """``localCheckpoint(``, ``.cache()`` and ``.persist(`` calls in
    ``path``'s code tokens (comments and strings never match)."""
    with open(path) as f:
        toks = [
            t
            for t in tokenize.generate_tokens(io.StringIO(f.read()).readline)
            if t.type not in (tokenize.COMMENT, tokenize.STRING, tokenize.NL)
        ]
    hits = []
    for i, t in enumerate(toks[:-2]):
        nxt = toks[i + 1].string
        if t.string == "localCheckpoint" and nxt == "(":
            hits.append((t.start[0], "localCheckpoint("))
        elif i and toks[i - 1].string == "." and nxt == "(":
            if t.string == "persist":
                hits.append((t.start[0], ".persist("))
            elif t.string == "cache" and toks[i + 2].string == ")":
                hits.append((t.start[0], ".cache()"))
    return hits


def test_materialization_goes_through_memo():
    allowed = {"memo.py", "tables.py"}
    found = []
    for root, _, files in os.walk(_PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            if os.path.relpath(path, _PKG) in allowed:
                continue
            found += [
                f"{os.path.relpath(path, _PKG)}:{line}: {what}"
                for line, what in _code_calls(path)
            ]
    assert not found, (
        "materialize through memo.materialize, not directly:\n" + "\n".join(found)
    )
    # the lint itself must see what it forbids
    assert [w for _, w in _code_calls(os.path.join(_PKG, "memo.py"))] == [
        "localCheckpoint("
    ]


def test_release_frees_only_the_named_frames(spark):
    from spark_sql_perf_spark import memo

    memo.release_all()
    base = _persistent_ids(spark)
    a = memo.materialize(spark.range(10), eager=True)
    b = memo.materialize(spark.range(20), eager=False)
    held = _persistent_ids(spark) - base
    assert len(held) == 2
    # None and frames materialize did not return are skipped
    memo.release(a, None, spark.range(5), a.select("id"))
    left = _persistent_ids(spark) - base
    assert len(left) == 1 and b.count() == 20
    memo.release(a)  # already released: a no-op
    memo.release_all()
    assert _persistent_ids(spark) == base and not memo._TRACKED
