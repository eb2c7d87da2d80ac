"""d8 duplicated-span extraction gates beyond the oracle equivalence
(test_oracle_sf0001.py covers hash-exactness): the islands-merge
semantics on handcrafted corpora, the planted-span recall on the driver
tables, and the 100-TB plan properties the docstring claims.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_TINY


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _spans(spark, rows):
    # enter via the operators package (registration import order), THEN
    # pull the helper — importing pipeline.dedup first is circular
    import spark_sql_perf_spark.operators  # noqa: F401
    from spark_sql_perf_spark.pipeline.dedup import duplicated_spans_df

    out = duplicated_spans_df(_corpus(spark, rows)).collect()
    return {r["doc_id"]: (r["n_spans"], r["dup_words"], r["max_span"]) for r in out}


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_single_shared_run_is_one_maximal_span(spark):
    # 9 shared words -> 5 overlapping duplicated 5-gram offsets that must
    # merge into ONE span of exactly 9 words, in both documents.
    shared = _words("s", 9)
    got = _spans(
        spark,
        [
            (1, _words("a", 6) + " " + shared + " " + _words("b", 6)),
            (2, _words("c", 6) + " " + shared + " " + _words("d", 6)),
        ],
    )
    assert got == {1: (1, 9, 9), 2: (1, 9, 9)}


def test_disjoint_runs_stay_separate_islands(spark):
    # Two shared runs separated by > k unique words in each doc -> two
    # spans; dup_words sums them, max_span is the longer.
    run1, run2 = _words("x", 5), _words("y", 7)
    got = _spans(
        spark,
        [
            (1, run1 + " " + _words("a", 10) + " " + run2),
            (2, run1 + " " + _words("b", 10) + " " + run2),
        ],
    )
    assert got == {1: (2, 12, 7), 2: (2, 12, 7)}


def test_adjacent_runs_merge(spark):
    # Doc 1 shares run1 with doc 2 and run2 with doc 3; in doc 1 the runs
    # are contiguous, so its duplicated offsets merge into ONE 10-word
    # span even though no single counterpart holds the whole thing.
    run1, run2 = _words("x", 5), _words("y", 5)
    got = _spans(
        spark,
        [
            (1, run1 + " " + run2),
            (2, _words("a", 6) + " " + run1 + " " + _words("b", 6)),
            (3, _words("c", 6) + " " + run2 + " " + _words("d", 6)),
        ],
    )
    assert got[1] == (1, 10, 10)
    assert got[2] == (1, 5, 5) and got[3] == (1, 5, 5)


def test_no_cross_doc_duplicates_no_rows(spark):
    got = _spans(spark, [(1, _words("a", 30)), (2, _words("b", 30))])
    assert got == {}


def test_repeat_within_single_doc_not_flagged(spark):
    # The winner test is MIN(doc)<>MAX(doc): a run repeated twice INSIDE
    # one document is self-similarity, not cross-document duplication.
    run = _words("x", 8)
    got = _spans(spark, [(1, run + " " + _words("a", 9) + " " + run)])
    assert got == {}


def test_planted_slices_detected_on_driver_tables(spark):
    from spark_sql_perf_spark.operators import QUERIES

    rows = QUERIES["d8_duplicated_spans"](spark, SF_DIR_TINY).collect()
    by_id = {r["doc_id"]: r for r in rows}
    planted = [i for i in by_id if i >= 1000000]
    assert planted, "planted span docs must be detected"

    src_words = {
        r["doc_id"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR_TINY}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    # every source doc whose planted slice is shingle-width must yield a
    # detected pair, with the span covering the whole slice
    for sid, n in src_words.items():
        if sid % 10 != 0:
            continue
        expected = min(12, n - 3)  # slice = words 4..15 of the source
        if expected < 5:
            continue
        pid = sid + 1000000
        assert pid in planted and by_id[pid]["max_span"] >= expected, (sid, n)
        assert sid in by_id, (sid, n)


def test_plan_properties(spark):
    from spark_sql_perf_spark.operators import QUERIES

    df = QUERIES["d8_duplicated_spans"](spark, SF_DIR_TINY)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints the final plan followed by an "Initial Plan" echo —
    # count operators in the final section only
    plan = plan.split("== Initial Plan ==")[0]
    # the dup-flag winner test is a min/max window, never a
    # COUNT(DISTINCT doc_id) Expand
    assert "Expand" not in plan, plan
    # no join-back in the window form; nothing nested-loop anywhere
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # exactly TWO full shuffles: digest window + doc-partitioned islands
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # both islands windows and both island aggregates ride the doc
    # exchange; the digest window rides the h exchange
    assert "hashpartitioning(doc_id" in plan and "hashpartitioning(h" in plan


# -- property: the window algebra equals a reference interval merge -------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _ref_merge(hits, k):
    """Reference gaps-and-islands: sort each doc's offsets, fuse runs
    whose gap is <= k, report (n_spans, dup_words, max_span)."""
    by_doc = {}
    for d, p in hits:
        by_doc.setdefault(d, set()).add(p)
    out = {}
    for d, ps in by_doc.items():
        ps = sorted(ps)
        spans, start, prev = [], ps[0], ps[0]
        for p in ps[1:]:
            if p - prev <= k:
                prev = p
            else:
                spans.append((start, prev))
                start = prev = p
        spans.append((start, prev))
        lens = [e - s + k for s, e in spans]
        out[d] = (len(lens), sum(lens), max(lens))
    return out


@settings(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 40)),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    st.integers(1, 6),
)
def test_merge_spans_matches_reference_interval_merge(spark, hits, k):
    import spark_sql_perf_spark.operators  # noqa: F401  (import order)
    from spark_sql_perf_spark.pipeline.dedup import merge_spans

    df = spark.createDataFrame(list(hits), "doc_id bigint, pos int")
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_words"], r["max_span"])
        for r in merge_spans(df, k).collect()
    }
    assert got == _ref_merge(hits, k)


# -- d9: the excision half ------------------------------------------------


def _excise(spark, rows):
    # enter via the operators package (registration import order)
    import spark_sql_perf_spark.operators  # noqa: F401
    from spark_sql_perf_spark.pipeline.dedup import span_excise_df

    out = span_excise_df(_corpus(spark, rows)).collect()
    return {r["doc_id"]: r["kept_text"] for r in out}


def test_d9_loser_excised_winner_intact(spark):
    shared = _words("s", 9)
    t1 = _words("a", 6) + " " + shared + " " + _words("b", 6)
    t2 = _words("c", 6) + " " + shared + " " + _words("d", 6)
    got = _excise(spark, [(1, t1), (2, t2)])
    # doc 1 is the winner: untouched, so absent from the excision report;
    # doc 2 loses the shared run
    assert 1 not in got
    assert got[2] == _words("c", 6) + " " + _words("d", 6)


def test_d9_planted_docs_keep_only_filler(spark):
    from spark_sql_perf_spark.operators import QUERIES

    rows = QUERIES["d9_span_excise"](spark, SF_DIR_TINY).collect()
    by_id = {r["doc_id"]: r for r in rows}
    src_words = {
        r["doc_id"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR_TINY}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    filler = {"zq", "yq", "xq", "wq", "vq", "uq"}
    checked = exact = 0
    for sid, n in src_words.items():
        # full 12-word slice and a source untouched by natural dups:
        # every slice word must be excised from the planted doc, and
        # only filler words can survive (a boundary shingle can also
        # fall when two planted docs share their slice's leading or
        # trailing words — then some filler goes too, never the reverse)
        if sid % 10 != 0 or n < 15 or sid in by_id:
            continue
        pid = sid + 1000000
        assert pid in by_id, (sid, n)
        row = by_id[pid]
        assert row["n_dropped"] >= 12, row
        kept = set(row["kept_text"].split()) if row["kept_text"] else set()
        assert kept <= filler, row
        checked += 1
        if row["kept_text"] == "zq yq xq wq vq uq":
            exact += 1
    assert checked > 0, "no clean planted pair found to check"
    assert exact > 0, "at least one planted doc should keep all six fillers"


def test_d9_mass_conservation(spark):
    from spark_sql_perf_spark.operators import QUERIES

    for r in QUERIES["d9_span_excise"](spark, SF_DIR_TINY).collect():
        kept_words = len(r["kept_text"].split()) if r["kept_text"] else 0
        assert kept_words + r["n_dropped"] == r["n_words"], r


def test_d9_checkpoint_tracked_and_freed(spark):
    """The losing relation is materialized eagerly through
    memo.materialize, so ExperimentRunner's iteration-boundary
    release_all frees its executor blocks deterministically instead of
    waiting on driver GC (r9 ADVICE)."""
    from spark_sql_perf_spark import memo
    from spark_sql_perf_spark.pipeline.dedup import span_excise_df

    def persistent_ids():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()
        }

    memo.release_all()
    before = persistent_ids()
    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta") for i in range(4)],
        "doc_id long, text string",
    )
    span_excise_df(corpus)  # eager checkpoint fires at build time
    added = persistent_ids() - before
    assert added, "losing relation should be checkpointed eagerly"
    tracked = {rid for (_, rid) in memo._TRACKED}
    assert added <= tracked, (added, tracked)
    memo.release_all()
    assert not (persistent_ids() & added), "teardown must free the blocks"
    assert not memo._TRACKED


def test_covered_word_sets_tolerates_short_docs(spark):
    """r10 ADVICE: the shared excision core applies its own
    size(ws) >= k guard — a sub-k doc must neither throw under ANSI
    (descending sequence / non-positive slice start) nor appear in the
    output, even when the caller forgets to pre-filter."""
    from spark_sql_perf_spark.pipeline.dedup import _D8_K, covered_word_sets

    dup = " ".join(f"w{i}" for i in range(_D8_K + 2))
    corpus = spark.createDataFrame(
        [(0, dup), (1, dup), (2, "too short"), (3, "")],
        "doc_id long, text string",
    )
    words = corpus.select("doc_id", F.split("text", " ").alias("ws"))
    rows = covered_word_sets(words, _D8_K).collect()
    assert {r["doc_id"] for r in rows} == {1}, rows
    assert sorted(rows[0]["cov"]) == list(range(_D8_K + 2))


def test_checkpoint_tracking_ignores_concurrent_persists(spark):
    """r10 ADVICE: memo.materialize must attribute by the returned
    frame's own RDD id (LogicalRDD.rdd), not by a before/after diff of
    the global persistent-RDD map — an RDD persisted by another thread
    during the checkpoint window must NOT be tracked (and so must
    survive release_all)."""
    import threading

    from spark_sql_perf_spark import memo

    memo.release_all()
    sc = spark.sparkContext
    stray_ids: list[int] = []
    stop = threading.Event()

    def persist_strays():
        while not stop.is_set():
            r = sc.parallelize([1, 2, 3], 1).persist()
            r.count()
            stray_ids.append(r.id())

    t = threading.Thread(target=persist_strays)
    t.start()
    try:
        out = memo.materialize(
            spark.range(1000).selectExpr("id", "id * 2 AS v"), eager=True
        )
        assert out.count() == 1000
    finally:
        stop.set()
        t.join(timeout=30)
    assert stray_ids, "the concurrent persister never ran"
    tracked = {rid for (_, rid) in memo._TRACKED}
    assert tracked and not (tracked & set(stray_ids)), (tracked, stray_ids)
    memo.release_all()
    live = {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}
    assert set(stray_ids) <= live, "release_all must not touch foreign RDDs"
    for rid in stray_ids:  # cleanup
        sc._jsc.getPersistentRDDs().get(rid).unpersist(False)
