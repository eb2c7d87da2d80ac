"""Curation-operator gates beyond the oracle equivalence (which
test_oracle_sf0001.py already covers for c1-c6): the 100-TB plan
properties and the materialization lifetime.

- c1's eval-gram join must be a broadcast hash join: the benchmark side
  is tiny by nature; shuffling the corpus grams on the gram string
  would be the scale bug.
- c6's global cumulative sum must not funnel through a single-partition
  exchange (the windows2 two-pass property), and what it materializes
  must be freed by the iteration-boundary release.
- the keep/drop booleans stay non-degenerate on the generated corpus —
  a silent threshold drift after a datagen change would otherwise turn
  a filter into a no-op that still hash-verifies.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_TINY


def _q(spark, name):
    from spark_sql_perf_spark.operators import QUERIES

    return QUERIES[name](spark, SF_DIR_TINY)


def _plan(df, execute: bool = False) -> str:
    if execute:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_c1_eval_grams_broadcast(spark):
    plan = _plan(_q(spark, "c1_decontaminate_4gram"), execute=True)
    assert "BroadcastHashJoin" in plan, plan
    # the corpus side must never be broadcast: the only broadcast exchange
    # feeds the LeftSemi-free inner join on the gram string
    assert plan.count("BroadcastExchange") >= 1


def test_c6_no_single_partition_funnel(spark):
    plan = _plan(_q(spark, "c6_sequence_packing"), execute=True)
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan  # partition-local cumsum, after the range shuffle


def test_c6_memo_drains(spark):
    """c6's two-pass cumsum materializes its range-partitioned input;
    the iteration-boundary release must free it."""
    from spark_sql_perf_spark import memo

    memo.release_all()
    jsc = spark.sparkContext._jsc
    base = {int(k) for k in jsc.getPersistentRDDs().keySet()}
    _q(spark, "c6_sequence_packing").collect()
    held = {int(k) for k in jsc.getPersistentRDDs().keySet()} - base
    assert held, "two-pass cumsum should materialize its input"
    assert memo._TRACKED
    memo.release_all()
    assert not memo._TRACKED
    left = {int(k) for k in jsc.getPersistentRDDs().keySet()}
    assert not (left & held), f"still persisted: {left & held}"


def test_filters_non_degenerate(spark):
    for name, col in (
        ("c2_blocklist_filter", "keep"),
        ("c4_repetition_filter", "keep"),
    ):
        vals = {r[col] for r in _q(spark, name).select(col).distinct().collect()}
        assert vals == {True, False}, f"{name}.{col} degenerate: {vals}"


def test_c3_split_deterministic_under_repartition(spark):
    """The split must be a function of identity alone — identical counts
    regardless of physical layout (the property df.randomSplit lacks)."""
    a = {r["split"]: r["n_docs"] for r in _q(spark, "c3_hash_split").collect()}
    from pyspark.sql import functions as F

    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.pipeline.curation import _SPLIT_MULT, _pct

    docs = table(spark, SF_DIR_TINY, "documents").repartition(13, "source")
    pct = _pct("doc_id", _SPLIT_MULT)
    split = (
        F.when(pct < 90, F.lit("train")).when(pct < 95, F.lit("val")).otherwise("test")
    )
    b = {
        r["split"]: r["n"]
        for r in docs.groupBy(split.alias("split")).agg(F.count("*").alias("n")).collect()
    }
    assert a == b



def test_c6_contexts_contiguous_and_mass_conserving(spark):
    """Concat-and-chunk invariants: context ids are contiguous from 0 and
    token mass is conserved — exactly what the uncached-repartition bug
    in the two-pass cumsum would have broken (offsets from a different
    partitioning leave gaps / NULL contexts)."""
    from pyspark.sql import functions as F

    from spark_sql_perf_spark.catalog import table

    rows = _q(spark, "c6_sequence_packing").collect()
    ids = sorted(r["context_id"] for r in rows)
    assert ids[0] == 0 and ids == list(range(len(ids))), "context ids not contiguous"
    total = sum(r["n_tokens"] for r in rows)
    docs = table(spark, SF_DIR_TINY, "documents")
    want = docs.select(
        F.sum(F.size(F.split(F.lower("text"), r"\s+"))).alias("t")
    ).collect()[0]["t"]
    assert total == want, "token mass not conserved across contexts"


def test_c9_priority_sample_quota_and_weight_bias(spark):
    """Each stratum yields exactly K rows (every sf0.01 source has 25 > K
    docs), and the weighted draw is visibly biased: the sampled docs'
    mean length exceeds the population mean (priority = w/u makes long
    docs proportionally likelier — deterministic given the fixed hash)."""
    from spark_sql_perf_spark.operators import QUERIES
    from spark_sql_perf_spark.pipeline.curation import _C9_K

    out = QUERIES["c9_priority_sample"](spark, SF_DIR_TINY).cache()
    per_src = {r["source"]: r["n"] for r in
               out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(per_src.values()) == {_C9_K}
    sampled_mean = out.agg(F.avg("n_chars")).first()[0]
    from spark_sql_perf_spark.catalog import table
    pop_mean = table(spark, SF_DIR_TINY, "documents").agg(F.avg("n_chars")).first()[0]
    assert sampled_mean > pop_mean
    out.unpersist()


def test_c9_deterministic_under_repartition(spark):
    """The sample is a pure function of (doc_id, n_chars): shuffling the
    input layout cannot change which docs are drawn — the property that
    makes the sample retry/speculation-stable on a real cluster."""
    from spark_sql_perf_spark.operators import QUERIES

    a = {(r["source"], r["doc_id"]) for r in
         QUERIES["c9_priority_sample"](spark, SF_DIR_TINY).collect()}
    docs = spark.read.parquet(f"{SF_DIR_TINY}/documents.parquet").repartition(17)
    docs.createOrReplaceTempView("_c9_shuffled")
    from spark_sql_perf_spark.pipeline.curation import _C9_K, _C9_MULT
    u = ((F.col("doc_id") * F.lit(_C9_MULT)) % F.lit(2**32) + 1).cast(
        "double") / F.lit(4294967296.0)
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy(
        F.desc((F.col("n_chars").cast("double") / u)), "doc_id")
    b = {(r["source"], r["doc_id"]) for r in
         docs.select("source", "doc_id",
                     F.row_number().over(w).alias("rn"))
             .where(F.col("rn") <= _C9_K).collect()}
    assert a == b


def test_c10_composed_pipeline_plan(spark):
    """The e2e curation pipeline must collapse to the claimed shape:
    the quality filter runs BEFORE the dedup shuffle (scan-stage
    DataFilter), first-occurrence-per-hash uses a partial
    WindowGroupLimit so at most one row per content hash crosses the
    exchange, and the rollup is a partial+final HashAggregate. Exactly
    two hash exchanges: the content hash and the (split, source) agg."""
    plan = _plan(_q(spark, "c10_e2e_curation"), execute=True)
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert plan.count("Exchange hashpartitioning") <= 2 * 2  # initial+final AQE prints
    # the keep predicate is evaluated in the scan stage, not post-shuffle
    scan_stage = plan.split("Exchange hashpartitioning")[-1]
    assert "FileScan" in scan_stage and "0.13" in scan_stage
    assert plan.count("HashAggregate") >= 2  # partial + final rollup


def test_c11_epoch_bounds_and_mechanism(spark):
    """c11 invariants: emitted multiset bounded by floor/ceil of the
    target per source, max_epoch == the per-source copy ceiling actually
    drawn, and the physical mechanism is a narrow explode — the emitted
    relation itself must not shuffle (the only Exchanges belong to the
    reporting aggregate)."""
    import math

    df = _q(spark, "c11_epoch_upsample")
    rows = df.collect()
    assert rows, "every source must emit"
    for r in rows:
        lo = math.floor(r["target_epochs"]) * r["n_docs"]
        hi = math.ceil(r["target_epochs"]) * r["n_docs"]
        assert lo <= r["n_emitted"] <= hi, r
        assert r["max_epoch"] in (
            math.floor(r["target_epochs"]),
            math.ceil(r["target_epochs"]),
        ), r
        assert abs(r["achieved_epochs"] * r["n_docs"] - r["n_emitted"]) < 1e-6

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan, plan
    # narrow up-sampling: the explode must sit BELOW every exchange —
    # shuffling before replication would move each byte once per copy
    assert plan.index("Generate explode") > plan.index("Exchange"), plan


def test_c11_deterministic_under_repartition(spark):
    """The promotion decision is identity arithmetic: per-source emitted
    counts are identical on a hostile physical layout."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.pipeline.curation import (
        _C11_FACTORS,
        _EPOCH_MULT,
        _pct,
    )

    base = {r["source"]: r["n_emitted"] for r in _q(spark, "c11_epoch_upsample").collect()}

    docs = table(spark, SF_DIR_TINY, "documents").repartition(17, "doc_id")
    src_id = F.substring("source", 4, 10).cast("int")
    target = (
        F.when(src_id % 4 == 0, _C11_FACTORS[0])
        .when(src_id % 4 == 1, _C11_FACTORS[1])
        .when(src_id % 4 == 2, _C11_FACTORS[2])
        .otherwise(_C11_FACTORS[3])
        .cast("double")
    )
    n_copies = F.floor(target).cast("long") + F.when(
        _pct("doc_id", _EPOCH_MULT) < (target - F.floor(target)) * 100, 1
    ).otherwise(0)
    again = {
        r["source"]: r["n"]
        for r in docs.select("source", F.explode(F.sequence(F.lit(1).cast("long"), n_copies)))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert base == again


def test_c12_matches_greedy_reference_and_has_no_funnel(spark, monkeypatch):
    """The grouped two-pass cumsum must reproduce the plain greedy
    selection (take docs in quality order until the budget overflows),
    computed here in pure Python from the raw table — and its plan must
    not funnel any domain through a SinglePartition exchange."""
    import re

    from spark_sql_perf_spark import memo
    from spark_sql_perf_spark.pipeline.curation import _C12_BUDGET

    # the range shuffle runs inside the materialized frame's own plan,
    # which the final plan reads as a Scan ExistingRDD leaf
    materialized = []
    real = memo.materialize

    def spy(frame, eager):
        materialized.append(frame._jdf.queryExecution().executedPlan().toString())
        return real(frame, eager)

    monkeypatch.setattr(memo, "materialize", spy)
    df = _q(spark, "c12_token_budget_select")
    got = {
        r["source"]: (r["n_kept"], r["tokens_kept"])
        for r in df.collect()
    }

    raw = (
        spark.read.parquet(f"{SF_DIR_TINY}/documents.parquet")
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.lower("text"), r"\s+")).alias("tok"),
            "n_chars",
        )
        .collect()
    )
    by_src = {}
    for r in raw:
        by_src.setdefault(r["source"], []).append(
            (-(r["tok"] / r["n_chars"]), r["doc_id"], r["tok"])
        )
    want = {}
    for src, docs in by_src.items():
        cum = n = kept_tok = 0
        for _, _, tok in sorted(docs):
            cum += tok
            if cum > _C12_BUDGET:
                break
            n += 1
            kept_tok += tok
        want[src] = (n, kept_tok)
    assert got == want

    plans = materialized + [df._jdf.queryExecution().executedPlan().toString()]
    assert not any("SinglePartition" in p for p in plans), plans
    assert any("rangepartitioning" in p for p in materialized), materialized


def test_c13_matches_python_reference_pipeline(spark):
    """The composed mix assembler must equal a pure-Python rerun of its
    three stages (greedy budget select -> epoch copies -> greedy pack)
    computed straight from the raw table — pinning the stage composition
    itself, especially that the second two-pass cumsum does not release
    the first stage's materialized range partitioning mid-plan."""
    import math

    from spark_sql_perf_spark.pipeline.curation import (
        _C11_FACTORS,
        _C12_BUDGET,
        _C13_PACK,
        _C13_STRIDE,
        _EPOCH_MULT,
    )

    got = {
        r["context_id"]: (r["n_rows"], r["n_docs"], r["n_sources"], r["n_tokens"])
        for r in _q(spark, "c13_e2e_mix").collect()
    }

    raw = (
        spark.read.parquet(f"{SF_DIR_TINY}/documents.parquet")
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.lower("text"), r"\s+")).alias("tok"),
            "n_chars",
        )
        .collect()
    )
    by_src = {}
    for r in raw:
        by_src.setdefault(r["source"], []).append(
            (-(r["tok"] / r["n_chars"]), r["doc_id"], r["tok"], r["source"])
        )
    emitted = []  # (ord, doc_id, source, tok)
    for src, docs in by_src.items():
        cum = 0
        sid = int(src[3:])
        te = _C11_FACTORS[sid % 4]
        for _, doc_id, tok, source in sorted(docs):
            cum += tok
            if cum > _C12_BUDGET:
                break
            pct = (doc_id * _EPOCH_MULT % 2**32) % 100
            n_copies = math.floor(te) + (1 if pct < (te - math.floor(te)) * 100 else 0)
            for epoch in range(1, n_copies + 1):
                emitted.append((doc_id * _C13_STRIDE + epoch, doc_id, source, tok))
    want = {}
    cum = 0
    for _, doc_id, source, tok in sorted(emitted):
        ctx = cum // _C13_PACK
        rows, docs_, srcs, toks = want.get(ctx, (0, set(), set(), 0))
        docs_, srcs = set(docs_), set(srcs)
        docs_.add(doc_id)
        srcs.add(source)
        want[ctx] = (rows + 1, docs_, srcs, toks + tok)
        cum += tok
    want = {
        ctx: (rows, len(docs_), len(srcs), toks)
        for ctx, (rows, docs_, srcs, toks) in want.items()
    }
    assert got == want


# -- property: grouped_cum_before equals a per-group python cumsum ---------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),   # group
            st.integers(0, 50),                  # order key (unique-ified)
            st.integers(1, 100),                 # value
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 7),  # n_parts, incl. more partitions than rows
)
def test_grouped_cum_before_matches_reference(spark, rows, n_parts):
    """Property gate for the two-pass machinery itself: for any (group,
    key, val) multiset and ANY partition count — including n_parts >
    rows and single-row groups split across range partitions — the
    exclusive per-group running sum equals the obvious per-group python
    scan. Catches offset-accumulation bugs (wrong pid order, dropped
    (pid, group) cells, join-key collisions) that the fixed-layout c12
    test cannot reach."""
    from spark_sql_perf_spark.pipeline.curation import grouped_cum_before

    # unique (group, key) so the order is total — matching the
    # operators' (quality, doc_id) discipline
    seen = set()
    uniq = []
    for g, k, v in rows:
        if (g, k) not in seen:
            seen.add((g, k))
            uniq.append((g, k, v))

    df = spark.createDataFrame(uniq, "g string, k int, v long")
    got = {
        (r["g"], r["k"]): r["cum_before"]
        for r in grouped_cum_before(df, "g", [F.col("k")], "v", n_parts).collect()
    }

    want = {}
    by_g = {}
    for g, k, v in uniq:
        by_g.setdefault(g, []).append((k, v))
    for g, kvs in by_g.items():
        acc = 0
        for k, v in sorted(kvs):
            want[(g, k)] = acc
            acc += v
    assert got == want


def test_c14_composed_excise_plan_and_accounting(spark):
    """c14 gates: (a) accounting invariants — the exact-dup plants are
    fully removed (never excised), span-planted survivors lose tokens,
    winners keep theirs; (b) the 100-TB plan property — past the
    deduped-corpus checkpoint nothing wide shuffles again: the covered
    sets come back via a BROADCAST hash join (the excision must not
    re-shuffle the corpus frame) and the only exchanges are the skinny
    digest window, the cov-set aggregate, and the final rollup."""
    df = _q(spark, "c14_dedup_excise_split")
    rows = df.collect()
    assert rows
    tot_docs = sum(r["n_docs"] for r in rows)
    tot_cut = sum(r["n_docs_cut"] for r in rows)
    dropped = sum(r["tok_before"] - r["tok_after"] for r in rows)
    from spark_sql_perf_spark.catalog import table

    # survivor count == distinct text count over the composed corpus,
    # derived independently with a groupBy (vs the query's window): the
    # exact copies (every 20th doc) MUST dedup away, and any span
    # copies whose wrapped slices happen to collide (2 pairs at this
    # sf) go with them
    docs = table(spark, SF_DIR_TINY, "documents")
    n_base = docs.count()
    base = docs.select("doc_id", F.lower("text").alias("text"))
    span = base.where(F.col("doc_id") % 10 == 0).select(
        F.concat(
            F.lit("zq yq xq "),
            F.array_join(F.slice(F.split("text", " "), 4, 12), " "),
            F.lit(" wq vq uq"),
        ).alias("text")
    )
    exact = base.where(F.col("doc_id") % 20 == 0).select("text")
    n_uniq = (
        base.select("text").unionAll(span).unionAll(exact)
        .agg(F.countDistinct("text")).collect()[0][0]
    )
    assert tot_docs == n_uniq, (tot_docs, n_uniq)
    assert tot_docs < n_base + n_base // 10 + n_base // 20  # dedup did work
    assert 0 < tot_cut <= tot_docs
    assert dropped > 0

    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # deduped corpus reads from the checkpoint, not a re-executed dedup
    assert "Scan ExistingRDD" in plan, plan
    # AQE prints initial+final: 3 logical exchanges (digest window,
    # cov-set groupBy, final agg) -> at most 6 textual occurrences
    assert plan.count("Exchange hashpartitioning") <= 6, plan


def test_c15_no_cluster_straddles_splits(spark):
    """The leakage-safe split's structural invariant: every near-dup
    cluster lands in exactly one split (checked directly on the label
    frame, not via the rollup), and at this sf the operator does real
    work — planted near-dups exist whose naive doc-level split would
    have leaked (n_rehomed > 0)."""
    from spark_sql_perf_spark.pipeline.curation import _SPLIT_MULT, _pct
    from spark_sql_perf_spark.pipeline.dedup import d6_dedup_components

    labels = d6_dedup_components(spark, SF_DIR_TINY)
    p = _pct("cluster_id", _SPLIT_MULT)
    split = F.when(p < 90, "train").when(p < 95, "val").otherwise("test")
    straddlers = (
        labels.select("cluster_id", split.alias("split"))
        .groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert straddlers == 0

    rows = _q(spark, "c15_leakage_safe_split").collect()
    assert sum(r["n_rehomed"] for r in rows) > 0, rows
    # members (non-representative docs) exist and every rehomed doc is
    # a member: rehoming only happens when cluster_id != doc_id
    assert all(r["n_rehomed"] <= r["n_members"] for r in rows), rows
    # r11 token receipt: every rehomed doc carries >= 1 token, the
    # rehomed token mass never exceeds the split's, and a split with no
    # rehomed docs has no rehomed tokens
    for r in rows:
        assert r["n_rehomed"] <= r["n_tok_rehomed"] <= r["n_tok"], r
        assert (r["n_tok_rehomed"] == 0) == (r["n_rehomed"] == 0), r


def test_c16_repetition_cut_plan_and_accounting(spark):
    """c16 gates: (a) accounting — every planted repetitive doc is cut,
    every planted verbatim copy dedups away, every natural doc at this
    sf survives (the _C16_* thresholds were chosen against the measured
    natural-doc distribution), and the three statuses partition the
    corpus; (b) the 100-TB plan property — the Gopher fold rides the
    scan IN-ROW below the dedup exchange: no Generate (the relational
    explode form would blow the corpus ~20x before the shuffle), no
    join, and exactly two logical exchanges (md5 dedup window + final
    rollup)."""
    from spark_sql_perf_spark.catalog import table

    df = _q(spark, "c16_repetition_cut_split")
    rows = df.collect()
    assert rows
    n_base = table(spark, SF_DIR_TINY, "documents").count()
    tot = {
        c: sum(r[c] for r in rows)
        for c in ("n_docs", "n_cut_rep", "n_dupes", "n_docs_out", "tok_out")
    }
    assert tot["n_docs"] == n_base + n_base // 10 + n_base // 20
    assert tot["n_cut_rep"] == n_base // 10, tot  # planted repeats only
    assert tot["n_dupes"] == n_base // 20, tot  # planted copies only
    assert tot["n_docs_out"] == n_base, tot
    assert tot["n_docs"] == tot["n_cut_rep"] + tot["n_dupes"] + tot["n_docs_out"]
    assert tot["tok_out"] > 0

    plan = _plan(df, execute=True)
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    # AQE prints initial+final: 2 logical exchanges (dedup window,
    # rollup agg) -> at most 4 textual occurrences
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def _ref_gram_stats(words: list[str], n: int) -> tuple[int, int, int]:
    """Reference (total, top-multiplicity, distinct) over n-grams."""
    from collections import Counter

    grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
    c = Counter(grams)
    return len(grams), max(c.values()), len(c)


def test_gram_fold_matches_python_reference(spark):
    """The sorted-run aggregate fold behind t8 and c16's cut is the
    trickiest in-row expression in the repo — cross-validate (total,
    top-multiplicity, distinct) for 2- and 3-grams against a plain
    Counter over adversarial word lists: heavy repetition, all-equal,
    minimum lengths, interleaved runs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from spark_sql_perf_spark.pipeline.textstats import (
        gram_top_total_distinct,
    )

    @settings(
        deadline=None,
        max_examples=15,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.lists(
                st.sampled_from(["a", "b", "c", "ab"]), min_size=3, max_size=40
            ),
            min_size=1,
            max_size=8,
        )
    )
    def run(docs):
        df = spark.createDataFrame(
            [(i, ws) for i, ws in enumerate(docs)],
            "doc_id long, ws array<string>",
        )
        t2, top2, d2_ = gram_top_total_distinct(2)
        t3, top3, d3_ = gram_top_total_distinct(3)
        got = {
            r["doc_id"]: tuple(r[c] for c in
                               ("t2", "top2", "d2", "t3", "top3", "d3"))
            for r in df.select(
                "doc_id",
                t2.alias("t2"), top2.alias("top2"), d2_.alias("d2"),
                t3.alias("t3"), top3.alias("top3"), d3_.alias("d3"),
            ).collect()
        }
        want = {
            i: _ref_gram_stats(ws, 2) + _ref_gram_stats(ws, 3)
            for i, ws in enumerate(docs)
        }
        assert got == want

    run()
