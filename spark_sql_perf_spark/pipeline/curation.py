"""Corpus-curation operators: the decisions a training-data pipeline
makes between raw documents and a training mix (north-star extension,
not reference parity — complements dedup/quality/textstats).

c1  benchmark decontamination: flag training docs sharing word 4-grams
    with a held-out eval set (the eval set here is the deterministic
    ``doc_id % 13 == 0`` slice standing in for an external benchmark).
    At 100 TB the eval side is a benchmark suite — a few MB — so the
    gram set is broadcast and the scan-side cost is one pass over the
    corpus grams; no shuffle of document bodies.
c2  blocklist filter + redaction: token-fraction score against a word
    blocklist and a global regexp redaction — pure column expressions.
c3  deterministic train/val/test split: Knuth multiplicative hash of
    the stable doc identity -> percentile bucket. Pure arithmetic (no
    engine-specific hash function), so the assignment is reproducible
    across engines, runs, and repartitioning — the property a split
    must have so later pipeline stages can re-derive it.
c4  repetition filter (Gopher-style): top-word and top-bigram mass
    fractions per document; high fractions mark template/boilerplate
    docs. explode + groupBy keeps the counting distributed; the per-doc
    group is bounded by document length, never corpus size.
c5  domain mixture: per-source target sampling rates applied with a
    second multiplicative hash -> achieved-rate report. Deterministic
    sampling (vs ``df.sample``) so the mix is stable across retries
    and engines.
c6  sequence packing: concat-and-chunk documents into fixed token-budget
    contexts. The context id is floor(global-cumulative-tokens-before /
    budget) — a GLOBAL running sum, computed scale-safely with the same
    two-pass scheme as operators/windows2._with_global_rank: one range
    shuffle, one n_parts-row offsets job, one partition-local window.
    A bare ``Window.orderBy`` (single reducer) would be fatal at 100 TB.
c7  fuzzy decontamination: near-duplicate (not just verbatim) eval
    leakage, via d2's verified MinHash/LSH pair relation restricted to
    (train, eval) pairs — inherits d2's banded-bucket bound on pairwise
    work.

Later rounds extended the family: c8 sliding-window chunking, c9
weighted priority sampling per stratum (Duffield-Lund-Thorup), c10
— the filter -> exact-dedup -> split -> mixture-rollup pipeline COMPOSED
as one declarative plan (one scan, one content-hash exchange with a
partial WindowGroupLimit, one agg exchange) — and r9's mixing pair:
c11 fractional-epoch UP-sampling (the >=1-epoch complement of c5, a
narrow explode below every exchange) and c12 per-domain token-budget
selection (quality-ordered stop-at-overflow via grouped_cum_before,
the per-GROUP generalization of c6's two-pass cumsum), composed
end-to-end as c13 (select -> upsample -> pack, one logical plan).
r10 adds c14 (the ExactSubstr span cut composed between exact dedup
and the split — d9's covered-word sets over a once-checkpointed
deduped corpus) and c15 (leakage-safe splitting: the c3 hash split
keyed on d6's near-dup component label so a duplicate cluster can
never straddle train/test).

All are SQL-expressible and hash-verify against DuckDB oracles.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import table
from ..operators.registry import query

# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------

_WS_SPLIT = r"\s+"

# Knuth multiplicative hashes (mod 2^32). Two different odd multipliers so
# the c3 split and the c5 mixture sample are independent decisions: a doc's
# split bucket must not correlate with whether the mixture keeps it.
_SPLIT_MULT = 2654435761  # 2^32 / phi
_MIX_MULT = 2246822519    # xxhash PRIME32_2


def _words(col: str = "text") -> Column:
    return F.split(F.lower(F.col(col)), _WS_SPLIT)


def _pct(doc_id: str, mult: int) -> Column:
    """Deterministic 0-99 bucket from a bigint identity (pure arithmetic)."""
    return ((F.col(doc_id) * F.lit(mult)) % F.lit(2**32)) % F.lit(100)


def _pct_sql(doc_id: str, mult: int) -> str:
    return f"(({doc_id} * {mult}) % 4294967296) % 100"


# ---------------------------------------------------------------------------
# c1: benchmark decontamination
# ---------------------------------------------------------------------------

_C1_N = 4            # gram width
_C1_EVAL_MOD = 13    # eval set = doc_id % 13 == 0
_C1_DUP_FRAC = 0.5   # >= half the doc's grams hit -> near-copy of eval


@query(
    "c1_decontaminate_4gram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '{_WS_SPLIT}') AS ws
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - {_C1_N - 2}),
               i -> array_to_string(ws[i:i+{_C1_N - 1}], ' ')))) AS gram
      FROM toks WHERE len(ws) >= {_C1_N}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_C1_EVAL_MOD} = 0),
    hits AS (
      SELECT g.doc_id, COUNT(*) AS n_hit
      FROM g JOIN ev USING (gram)
      WHERE g.doc_id % {_C1_EVAL_MOD} <> 0
      GROUP BY g.doc_id)
    SELECT h.doc_id, h.n_hit, s.n_grams,
           ROUND(CAST(h.n_hit AS DOUBLE) / s.n_grams, 6) AS contam_frac,
           CAST(h.n_hit AS DOUBLE) / s.n_grams >= {_C1_DUP_FRAC} AS near_copy
    FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
    """,
)
def c1_decontaminate_4gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing word 4-grams with the eval slice.

    The eval gram set is DISTINCT-ed and broadcast — at real scale the
    benchmark side is tiny (MBs) while the corpus side is the 100 TB
    scan, so the join must be a broadcast hash join on the gram string
    (asserted in tests/test_plans.py). ``near_copy`` marks docs whose
    hit fraction says they ARE an eval document, not a coincidental
    collision.
    """
    docs = table(spark, sf_dir, "documents")
    # NOTE (r13): the three consumers (sizes, eval grams, hit join)
    # re-derive this pipeline from the scan, but AQE materializes their
    # exchange subtrees as CONCURRENT query stages, so the wall cost is
    # ~one pipeline; an explicit localCheckpoint (and/or a fan-out
    # exchange) measured NEUTRAL-to-worse interleaved (1.16 s old vs
    # 1.22/1.23 s) because it serializes what AQE overlaps. Left as-is.
    grams = (
        docs.select("doc_id", _words().alias("ws"))
        .where(F.size("ws") >= _C1_N)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - (_C1_N - 1)),
                        lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i, _C1_N)),
                    )
                )
            ).alias("gram"),
        )
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    eval_grams = (
        grams.where(F.col("doc_id") % _C1_EVAL_MOD == 0).select("gram").distinct()
    )
    hits = (
        grams.where(F.col("doc_id") % _C1_EVAL_MOD != 0)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    frac = F.col("n_hit").cast("double") / F.col("n_grams")
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_hit",
            "n_grams",
            F.round(frac, 6).alias("contam_frac"),
            (frac >= _C1_DUP_FRAC).alias("near_copy"),
        )
    )


# ---------------------------------------------------------------------------
# c2: blocklist filter + redaction
# ---------------------------------------------------------------------------

_C2_BLOCKLIST = ("hash", "scan", "slow")
# ~80th percentile of bad_frac on this small-vocab corpus -> a realistic
# keep-most / drop-tail filter (the three words are ~10% of tokens here)
_C2_MAX_FRAC = 0.13
_C2_RE = r"\b(" + "|".join(_C2_BLOCKLIST) + r")\b"


@query(
    "c2_blocklist_filter",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source,
             string_split_regex(lower(text), '{_WS_SPLIT}') AS ws,
             regexp_replace(lower(text), '{_C2_RE}', '[BLOCKED]', 'g') AS red
      FROM documents),
    f AS (
      SELECT doc_id, source,
             len(list_filter(ws, w -> list_contains({list(_C2_BLOCKLIST)!r}, w))) AS n_bad,
             len(ws) AS n_tok, length(red) AS redacted_len
      FROM s)
    SELECT doc_id, source, n_bad, n_tok,
           ROUND(CAST(n_bad AS DOUBLE) / n_tok, 6) AS bad_frac,
           CAST(n_bad AS DOUBLE) / n_tok <= {_C2_MAX_FRAC} AS keep,
           redacted_len
    FROM f
    """,
)
def c2_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist token fraction + global redaction, expression-only.

    Both engines run the identical RE2-compatible pattern (word-boundary
    alternation), and the keep decision is a pure column expression —
    whole-stage codegen end to end, no Python in the hot path.
    """
    docs = table(spark, sf_dir, "documents")
    bl = F.array(*[F.lit(w) for w in _C2_BLOCKLIST])
    s = docs.select(
        "doc_id",
        "source",
        _words().alias("ws"),
        F.regexp_replace(F.lower(F.col("text")), _C2_RE, "[BLOCKED]").alias("red"),
    )
    f = s.select(
        "doc_id",
        "source",
        F.size(F.filter(F.col("ws"), lambda w: F.array_contains(bl, w))).alias("n_bad"),
        F.size("ws").alias("n_tok"),
        F.length("red").alias("redacted_len"),
    )
    frac = F.col("n_bad").cast("double") / F.col("n_tok")
    return f.select(
        "doc_id",
        "source",
        "n_bad",
        "n_tok",
        F.round(frac, 6).alias("bad_frac"),
        (frac <= _C2_MAX_FRAC).alias("keep"),
        "redacted_len",
    )


# ---------------------------------------------------------------------------
# c3: deterministic train/val/test split
# ---------------------------------------------------------------------------

@query(
    "c3_hash_split",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, n_chars,
             CASE WHEN {_pct_sql('doc_id', _SPLIT_MULT)} < 90 THEN 'train'
                  WHEN {_pct_sql('doc_id', _SPLIT_MULT)} < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM s GROUP BY split
    """,
)
def c3_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 split from a multiplicative hash of the doc identity.

    Pure arithmetic, so the assignment survives repartitioning, retries,
    and engine changes — unlike ``df.randomSplit`` (partition-order
    dependent) or engine hash builtins (murmur3 vs DuckDB's differ).
    """
    docs = table(spark, sf_dir, "documents")
    pct = _pct("doc_id", _SPLIT_MULT)
    split = (
        F.when(pct < 90, F.lit("train")).when(pct < 95, F.lit("val")).otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# c4: repetition filter (Gopher-style)
# ---------------------------------------------------------------------------

_C4_MAX_TOP_WORD = 0.20
_C4_MAX_TOP_BIGRAM = 0.18


@query(
    "c4_repetition_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '{_WS_SPLIT}') AS ws
      FROM documents WHERE len(string_split_regex(lower(text), '{_WS_SPLIT}')) >= 2),
    wc AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS w FROM toks) GROUP BY doc_id, w),
    tw AS (
      SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_word_frac
      FROM wc GROUP BY doc_id),
    bg AS (
      SELECT doc_id, b, COUNT(*) AS c
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(ws)),
                                         i -> array_to_string(ws[i:i+1], ' '))) AS b
            FROM toks)
      GROUP BY doc_id, b),
    tb AS (
      SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
      FROM bg GROUP BY doc_id)
    SELECT tw.doc_id,
           ROUND(top_word_frac, 6) AS top_word_frac,
           ROUND(top_bigram_frac, 6) AS top_bigram_frac,
           top_word_frac <= {_C4_MAX_TOP_WORD}
             AND top_bigram_frac <= {_C4_MAX_TOP_BIGRAM} AS keep
    FROM tw JOIN tb ON tb.doc_id = tw.doc_id
    """,
)
def c4_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-word / top-bigram mass fractions (Gopher repetition rules).

    explode + groupBy keeps counting distributed; each group is one
    (doc, term) — bounded by document length. The two fraction passes
    share the tokenized projection; no corpus-wide state.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _words().alias("ws")).where(F.size("ws") >= 2)

    def top_frac(exploded: DataFrame, term: str, alias: str) -> DataFrame:
        per = exploded.groupBy("doc_id", term).agg(F.count("*").alias("c"))
        return per.groupBy("doc_id").agg(
            (F.max("c").cast("double") / F.sum("c")).alias(alias)
        )

    words = toks.select("doc_id", F.explode("ws").alias("w"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i, 2)),
            )
        ).alias("b"),
    )
    tw = top_frac(words, "w", "top_word_frac")
    tb = top_frac(bigrams, "b", "top_bigram_frac")
    keep = (F.col("top_word_frac") <= _C4_MAX_TOP_WORD) & (
        F.col("top_bigram_frac") <= _C4_MAX_TOP_BIGRAM
    )
    return tw.join(tb, "doc_id").select(
        "doc_id",
        F.round("top_word_frac", 6).alias("top_word_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# c5: domain mixture
# ---------------------------------------------------------------------------

# target rate by source-id residue: a compact stand-in for the per-domain
# weight table a real mix config carries (that table would be broadcast).
_C5_RATES = (1.0, 0.5, 0.25, 0.1)


@query(
    "c5_domain_mixture",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(CASE (CAST(substr(source, 4) AS INT) % 4)
               WHEN 0 THEN {_C5_RATES[0]} WHEN 1 THEN {_C5_RATES[1]}
               WHEN 2 THEN {_C5_RATES[2]} ELSE {_C5_RATES[3]} END AS DOUBLE) AS rate,
             {_pct_sql('doc_id', _MIX_MULT)} AS pct
      FROM documents)
    SELECT source, ANY_VALUE(rate) AS target_rate,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (pct < rate * 100) AS n_kept,
           ROUND(CAST(COUNT(*) FILTER (pct < rate * 100) AS DOUBLE) / COUNT(*), 6)
             AS achieved_rate
    FROM s GROUP BY source
    """,
)
def c5_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain downsampling to target mixture rates.

    keep <=> hash-percentile(doc) < rate*100, with a hash multiplier
    independent of c3's so mixture and split decisions don't correlate.
    Deterministic sampling beats ``df.sample`` for a training mix: the
    kept set is identical across retries, engines, and partitionings.
    """
    docs = table(spark, sf_dir, "documents")
    src_id = F.substring("source", 4, 10).cast("int")
    rate = (
        F.when(src_id % 4 == 0, _C5_RATES[0])
        .when(src_id % 4 == 1, _C5_RATES[1])
        .when(src_id % 4 == 2, _C5_RATES[2])
        .otherwise(_C5_RATES[3])
    )
    pct = _pct("doc_id", _MIX_MULT)
    s = docs.select("source", rate.alias("rate"), pct.alias("pct"))
    kept = F.sum(F.when(F.col("pct") < F.col("rate") * 100, 1).otherwise(0))
    return s.groupBy("source").agg(
        F.any_value("rate").alias("target_rate"),
        F.count("*").alias("n_total"),
        kept.alias("n_kept"),
        F.round(kept.cast("double") / F.count("*"), 6).alias("achieved_rate"),
    )


# ---------------------------------------------------------------------------
# c6: sequence packing (scale-safe global cumulative sum)
# ---------------------------------------------------------------------------

_C6_BUDGET = 512
_C6_N_PARTS = 16

def global_cum_before(
    df: DataFrame, order_col: str, val_col: str, n_parts: int
) -> DataFrame:
    """Scale-safe GLOBAL exclusive running sum of ``val_col`` in
    ``order_col`` order: returns ``df`` plus a ``cum_before`` column.

    The windows2 two-pass scheme: range shuffle on the order column,
    per-partition totals to the driver (n_parts rows), broadcast
    offsets, partition-local window. The range-partitioned frame MUST
    be materialized before the offsets job — ``repartitionByRange``
    samples its boundaries with a nondeterministic seed, so a plan
    re-executed for the window pass can land rows in different
    partitions than the ones the offsets were computed for.
    """
    parted = memo.materialize(
        df.repartitionByRange(n_parts, F.col(order_col)).withColumn(
            "_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    sums = {
        r["_pid"]: r["s"]
        for r in parted.groupBy("_pid")
        # coalesce: same all-null-cell guard as grouped_cum_before
        .agg(F.coalesce(F.sum(val_col), F.lit(0)).alias("s")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    off_map = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(val_col).over(w), F.lit(0)) + off_map[F.col("_pid")]
    return parted.withColumn("cum_before", cum_before).drop("_pid")


@query(
    "c6_sequence_packing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, len(string_split_regex(lower(text), '{_WS_SPLIT}')) AS tok
      FROM documents),
    c AS (
      SELECT doc_id, tok,
             COALESCE(SUM(tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM tok)
    SELECT CAST(cum_before // {_C6_BUDGET} AS BIGINT) AS context_id,
           COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY context_id
    """,
)
def c6_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: context = floor(global cum tokens / 512).

    The global running sum uses the windows2 two-pass scheme — range
    shuffle on doc_id, per-partition token totals to the driver
    (n_parts rows), broadcast offsets, partition-local window — because
    a bare ``Window.orderBy(doc_id)`` funnels the corpus through one
    reducer. The oracle computes the same sum with a plain window (fine
    for DuckDB's single-node sort); both agree because the order
    (doc_id, unique) is total.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.size(_words()).alias("tok"))
    c = global_cum_before(tok, "doc_id", "tok", _C6_N_PARTS)
    return (
        c.groupBy(F.floor(F.col("cum_before") / _C6_BUDGET).alias("context_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# c7: fuzzy decontamination (near-dup vs the eval slice)
# ---------------------------------------------------------------------------

def _c7_oracle() -> str:
    from .dedup import _D2_PAIR_CTES

    return f"""
    WITH {_D2_PAIR_CTES},
    cross_pairs AS (
      SELECT CASE WHEN id_a % {_C1_EVAL_MOD} = 0 THEN id_b ELSE id_a END AS doc_id,
             jaccard
      FROM pairs
      WHERE (id_a % {_C1_EVAL_MOD} = 0) <> (id_b % {_C1_EVAL_MOD} = 0))
    SELECT doc_id, MAX(jaccard) AS max_eval_jaccard,
           COUNT(*) AS n_eval_matches
    FROM cross_pairs GROUP BY doc_id
    """


def c7_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination: training docs that are NEAR-duplicates of
    an eval doc (c1 catches verbatim 4-gram overlap; paraphrased or
    lightly-edited benchmark leakage needs similarity, not equality).

    Reuses d2's verified MinHash/LSH pair relation — same banded-bucket
    candidate generation, so the eval comparison inherits d2's 100 TB
    property: pairwise work only inside band buckets, never
    |train| x |eval|. Pairs with exactly one endpoint in the eval slice
    are folded to (train doc, max jaccard vs eval, match count).
    """
    from .dedup import d2_dedup_minhash_lsh

    pairs = d2_dedup_minhash_lsh(spark, sf_dir)
    a_eval = F.col("id_a") % _C1_EVAL_MOD == 0
    b_eval = F.col("id_b") % _C1_EVAL_MOD == 0
    return (
        pairs.where(a_eval != b_eval)
        .select(
            F.when(a_eval, F.col("id_b")).otherwise(F.col("id_a")).alias("doc_id"),
            "jaccard",
        )
        .groupBy("doc_id")
        .agg(
            F.max("jaccard").alias("max_eval_jaccard"),
            F.count("*").alias("n_eval_matches"),
        )
    )


query("c7_fuzzy_decontaminate", oracle=_c7_oracle())(c7_fuzzy_decontaminate)


# ---------------------------------------------------------------------------
# c8: sliding-window chunking (context-window preparation)
# ---------------------------------------------------------------------------

_C8_WINDOW = 160  # chars per chunk
_C8_STRIDE = 120  # chars between chunk starts (overlap = 40)


@query(
    "c8_chunk_overlap",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, text,
             CAST(CEIL(GREATEST(LENGTH(text) - {_C8_WINDOW - _C8_STRIDE}, 1)
                       / {_C8_STRIDE}.0) AS INT) AS n_chunks
      FROM documents)
    SELECT doc_id,
           unnest(range(0, n_chunks)) AS chunk_idx,
           substr(text, unnest(range(0, n_chunks)) * {_C8_STRIDE} + 1,
                  {_C8_WINDOW}) AS chunk,
           LENGTH(substr(text, unnest(range(0, n_chunks)) * {_C8_STRIDE} + 1,
                         {_C8_WINDOW})) AS chunk_len
    FROM n
    """,
)
def c8_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: fixed 160-char windows advancing
    by 120 chars (40-char overlap), the standard preparation step for
    context-window-bounded training/embedding over long documents. Chunk
    count is ceil(max(len - overlap, 1) / stride) so every character is
    covered and a short document still yields its single chunk.

    100 TB design: a pure per-row generate (sequence + explode + substr)
    — no shuffle, no Python, fully codegen'd; output partitioning is
    inherited from the scan, so a downstream per-chunk embed/dedup stage
    starts from the same partition-local layout. Chunk identity
    (doc_id, chunk_idx) is deterministic, so re-chunking after a retry
    or at a different parallelism yields identical rows.
    """
    docs = table(spark, sf_dir, "documents")
    n_chunks = F.ceil(
        F.greatest(F.length("text") - (_C8_WINDOW - _C8_STRIDE), F.lit(1))
        / _C8_STRIDE
    ).cast("int")
    chunk = F.substring(
        F.col("text"), F.col("chunk_idx") * _C8_STRIDE + 1, _C8_WINDOW
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            chunk.alias("chunk"),
            F.length(chunk).alias("chunk_len"),
        )
    )


# ---------------------------------------------------------------------------
# c9: weighted priority sampling per source stratum (Duffield-Lund-Thorup)
# ---------------------------------------------------------------------------

# third independent odd multiplier (xxhash PRIME32_3): the sampling draw
# must not correlate with the c3 split or the c5 mixture decision
_C9_MULT = 3266489917
_C9_K = 10  # sample size per source stratum


@query(
    "c9_priority_sample",
    oracle=f"""
    WITH pri AS (
      SELECT source, doc_id, n_chars,
             CAST(n_chars AS DOUBLE)
               / ((((doc_id * {_C9_MULT}) % 4294967296) + 1) / 4294967296.0)
               AS priority
      FROM documents),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY priority DESC, doc_id) AS rn
      FROM pri)
    SELECT source, doc_id, n_chars, priority, rn
    FROM ranked WHERE rn <= {_C9_K}
    """,
)
def c9_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k docs per source stratum,
    via PRIORITY SAMPLING (Duffield-Lund-Thorup): priority = weight / u
    with u a deterministic uniform from the doc identity; keep the k
    largest per stratum. Longer docs are proportionally likelier to be
    drawn, and the kept priorities support unbiased subset-sum estimates
    (tau = (k+1)-th priority) — the standard way to build a weighted
    training-mixture sample whose token totals remain estimable.

    Cross-engine exactness: u derives from a Knuth multiplicative hash
    (pure int64 arithmetic — doc_id < 2^31 keeps the product exact) and
    priority uses only IEEE-correctly-rounded ops (int-to-double, two
    divisions), so both engines rank identical doubles; ties break on
    doc_id. At 100 TB this is one scan + a per-stratum top-k window (no
    global sort, no RNG state, retry-stable on speculative re-execution
    — unlike ``df.sample``, whose draw depends on partition layout).
    """
    return priority_sample_df(table(spark, sf_dir, "documents"), _C9_K)


def priority_sample_df(docs: DataFrame, k: int) -> DataFrame:
    """c9's transformation on an explicit (source, doc_id, n_chars)
    frame — reused by the scale probe at generated volumes."""
    u = ((F.col("doc_id") * F.lit(_C9_MULT)) % F.lit(2**32) + 1).cast(
        "double"
    ) / F.lit(4294967296.0)
    pri = docs.select(
        "source",
        "doc_id",
        "n_chars",
        (F.col("n_chars").cast("double") / u).alias("priority"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("priority"), "doc_id")
    return pri.select("*", F.row_number().over(w).alias("rn")).where(
        F.col("rn") <= k
    )


# ---------------------------------------------------------------------------
# c10: the end-to-end curation pipeline as ONE composed plan
# ---------------------------------------------------------------------------


@query(
    "c10_e2e_curation",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, n_chars,
             len(list_filter(string_split_regex(lower(text), '{_WS_SPLIT}'),
                             w -> list_contains({list(_C2_BLOCKLIST)!r}, w))) AS n_bad,
             len(string_split_regex(lower(text), '{_WS_SPLIT}')) AS n_tok,
             md5(text) AS h
      FROM documents),
    kept AS (
      SELECT * FROM scored
      WHERE CAST(n_bad AS DOUBLE) / n_tok <= {_C2_MAX_FRAC}),
    uniq AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM kept),
    split AS (
      SELECT source, n_chars,
             CASE WHEN {_pct_sql('doc_id', _SPLIT_MULT)} < 90 THEN 'train'
                  WHEN {_pct_sql('doc_id', _SPLIT_MULT)} < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM uniq WHERE rn = 1)
    SELECT split, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM split GROUP BY split, source
    """,
)
def c10_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages COMPOSED end-to-end in one declarative plan:
    blocklist quality filter (c2's token fraction) -> exact dedup by
    content hash, first occurrence wins (d1's shape: the window
    partitions on the 16-byte md5, never the body) -> deterministic
    90/5/5 hash split (c3) -> per-(split, source) mixture rollup.

    The point at 100 TB is what Catalyst does with the composition: the
    filter prunes before the dedup shuffle, the dedup window and nothing
    else shuffles the corpus (one exchange on the content hash), and the
    final rollup is a partial-combining groupBy over the survivors — a
    pipeline a user would otherwise run as four materialized passes
    collapses to one scan + one shuffle + one agg exchange.
    """
    return curation_pipeline_df(table(spark, sf_dir, "documents"))


def curation_pipeline_df(docs: DataFrame) -> DataFrame:
    """c10's composed plan on an explicit (doc_id, source, n_chars, text)
    frame — reused by the scale probe at generated volumes."""
    bl = F.array(*[F.lit(w) for w in _C2_BLOCKLIST])
    ws = _words()
    scored = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.size(F.filter(ws, lambda w: F.array_contains(bl, w))).alias("n_bad"),
        F.size(ws).alias("n_tok"),
        F.md5("text").alias("h"),
    )
    kept = scored.where(
        F.col("n_bad").cast("double") / F.col("n_tok") <= _C2_MAX_FRAC
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    uniq = kept.select("*", F.row_number().over(w).alias("rn")).where(
        F.col("rn") == 1
    )
    pct = _pct("doc_id", _SPLIT_MULT)
    split = (
        F.when(pct < 90, F.lit("train")).when(pct < 95, F.lit("val")).otherwise("test")
    )
    return (
        uniq.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


# ---------------------------------------------------------------------------
# c11: fractional-epoch domain up-sampling (the mixing complement of c5)
# ---------------------------------------------------------------------------

# Per-source repetition factors >= 1 (c5 handles rates < 1): integer part
# replicates every document, and a deterministic hash percentile promotes
# the fractional remainder — e.g. 2.5 epochs = every doc twice plus a
# stable half of the source a third time. Published LLM data recipes
# up-weight high-quality sources exactly this way (fractional epochs over
# wiki/books vs one pass over web crawl).
_C11_FACTORS = (1.0, 1.5, 2.5, 3.0)
_EPOCH_MULT = 374761393  # xxhash PRIME32_5 — independent of the c3 split
# (2654435761), c5 mixture (2246822519) AND c9 priority (3266489917)
# draws: c9+c11 composed in one pipeline must not sample the epochs it
# promoted

_C11_FACTOR_SQL = f"""CAST(CASE (CAST(substring(source, 4, 10) AS INT) % 4)
               WHEN 0 THEN {_C11_FACTORS[0]} WHEN 1 THEN {_C11_FACTORS[1]}
               WHEN 2 THEN {_C11_FACTORS[2]} ELSE {_C11_FACTORS[3]} END AS DOUBLE)"""


def _c11_target() -> Column:
    """Per-source target epochs — the ONE definition c11 and c13 share
    (the SQL twin is _C11_FACTOR_SQL)."""
    src_id = F.substring("source", 4, 10).cast("int")
    return (
        F.when(src_id % 4 == 0, _C11_FACTORS[0])
        .when(src_id % 4 == 1, _C11_FACTORS[1])
        .when(src_id % 4 == 2, _C11_FACTORS[2])
        .otherwise(_C11_FACTORS[3])
        .cast("double")
    )


def _c11_n_copies(target: Column) -> Column:
    """floor(target) copies plus a deterministic hash-percentile
    promotion of the fractional remainder — shared by c11 and c13."""
    pct = _pct("doc_id", _EPOCH_MULT)
    return F.floor(target).cast("long") + F.when(
        pct < (target - F.floor(target)) * 100, 1
    ).otherwise(0)


@query(
    "c11_epoch_upsample",
    oracle=f"""
    WITH fac AS (
      SELECT doc_id, source,
             {_C11_FACTOR_SQL} AS target_epochs,
             {_pct_sql('doc_id', _EPOCH_MULT)} AS pct
      FROM documents),
    copies AS (
      SELECT doc_id, source, target_epochs,
             CAST(FLOOR(target_epochs) AS BIGINT)
               + CASE WHEN pct < (target_epochs - FLOOR(target_epochs)) * 100
                      THEN 1 ELSE 0 END AS n_copies
      FROM fac),
    emitted AS (
      SELECT doc_id, source, target_epochs,
             unnest(generate_series(1, n_copies)) AS epoch
      FROM copies)
    SELECT source,
           ANY_VALUE(target_epochs) AS target_epochs,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_emitted,
           CAST(MAX(epoch) AS BIGINT) AS max_epoch,
           ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id), 6)
             AS achieved_epochs
    FROM emitted GROUP BY source
    """,
)
def c11_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch up-sampling to target mixture weights >= 1.

    The physical mechanism is the one a 100 TB training-mix job runs:
    ``explode(sequence(1, n_copies))`` — a narrow per-row operation, no
    shuffle at all until the reporting aggregate — where n_copies =
    floor(epochs) + a deterministic hash-percentile promotion for the
    fractional part. Determinism matters the same way it does for c3/c5:
    the emitted multiset is identical across retries, partitionings, and
    engines, so a resumed job never double-reps a document. The epoch
    ordinal rides along so downstream shuffles (e.g. pack-then-shuffle
    into training order) can salt on (doc_id, epoch) instead of
    collapsing the copies back together. Reporting output: per-source
    target vs achieved epochs over the emitted multiset. Achieved
    converges to target statistically (measured 45-55% promotion per
    source at sf0.1 for the 0.5-fraction tiers); tiny per-source samples
    (sf0.01 has 25 docs/source) sit far off target by construction, which
    is the honest behavior — a fractional epoch is a corpus-level rate,
    not a per-25-docs guarantee.
    """
    docs = table(spark, sf_dir, "documents")
    emitted = docs.select(
        "doc_id",
        "source",
        _c11_target().alias("target_epochs"),
        F.explode(
            F.sequence(F.lit(1).cast("long"), _c11_n_copies(_c11_target()))
        ).alias("epoch"),
    )
    return emitted.groupBy("source").agg(
        F.any_value("target_epochs").alias("target_epochs"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_emitted"),
        F.max("epoch").alias("max_epoch"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.count_distinct("doc_id"), 6
        ).alias("achieved_epochs"),
    )


# ---------------------------------------------------------------------------
# c12: per-domain token-budget selection (grouped two-pass cumsum)
# ---------------------------------------------------------------------------

_C12_BUDGET = 100  # tokens per source; selective at every sf


def _c12_ranked(docs: DataFrame) -> DataFrame:
    """(doc, source, tok, quality, cum_before) in per-source quality
    order — the ONE budget-ranking definition c12 and c13 share."""
    q = docs.select(
        "doc_id",
        "source",
        F.size(_words()).alias("tok"),
        (F.size(_words()).cast("double") / F.col("n_chars")).alias("quality"),
    )
    return grouped_cum_before(
        q,
        "source",
        [F.col("quality").desc(), F.col("doc_id")],
        "tok",
        _C6_N_PARTS,
    )


def grouped_cum_before(
    df: DataFrame,
    group_col: str,
    order_key: list[Column],
    val_col: str,
    n_parts: int,
) -> DataFrame:
    """PER-GROUP exclusive running sum of ``val_col`` in ``order_key``
    order — the grouped generalization of ``global_cum_before``. A bare
    ``Window.partitionBy(group)`` sorts each whole group on one reducer,
    which is fatal when a single domain is terabytes; here the range
    shuffle on (group, *order_key) spreads every group over as many
    partitions as its volume needs, the offsets job collects one row
    per (partition, group) — O(n_parts x |groups|), domains are
    bounded (10s-1000s) while docs are not — and the window is
    partition-local. Same materialize-before-offsets discipline as
    global_cum_before (repartitionByRange samples nondeterministically).

    The offsets go back executor-side as a BROADCAST-JOINED frame keyed
    on (partition id, group), not a literal ``create_map``: Catalyst
    resolves a literal-map lookup by scanning the entries per row, and
    at the production shape this helper exists for (thousands of range
    partitions x hundreds of domains) that is a tens-of-thousands-entry
    scan per output row baked into the plan text. A broadcast hash join
    is O(1) per row and keeps the plan size flat.
    """
    parted = memo.materialize(
        df.repartitionByRange(n_parts, F.col(group_col), *order_key).withColumn(
            "_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    # coalesce: an all-null (partition, group) cell yields SUM = NULL,
    # which would TypeError in the offsets accumulation below — current
    # callers derive val_col from size() and never pass nulls, but the
    # helper is a general-purpose operator (r9 ADVICE). Null values
    # contribute 0 to the offsets, matching what the window's F.sum
    # (null-skipping) computes partition-locally.
    sums = [
        ((r["_pid"], r["g"]), r["s"])
        for r in parted.groupBy(
            F.col("_pid"), F.col(group_col).alias("g")
        ).agg(F.coalesce(F.sum(val_col), F.lit(0)).alias("s")).collect()
    ]
    acc: dict[str, int] = {}
    rows = []
    for (pid, g), s in sorted(sums, key=lambda kv: kv[0][0]):
        rows.append((pid, g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + s
    if not rows:  # empty input: no offsets to join, cum_before is trivially 0
        return parted.withColumn("cum_before", F.lit(0).cast("long")).drop("_pid")
    offsets = df.sparkSession.createDataFrame(rows, ["_opid", "_og", "_off"])
    w = (
        Window.partitionBy("_pid", group_col)
        .orderBy(*order_key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    part_sum = F.coalesce(F.sum(val_col).over(w), F.lit(0))
    return (
        parted.withColumn("_cb_part", part_sum)
        .join(
            F.broadcast(offsets),
            (F.col("_pid") == F.col("_opid")) & (F.col(group_col) == F.col("_og")),
        )
        .withColumn("cum_before", F.col("_cb_part") + F.col("_off"))
        .drop("_pid", "_opid", "_og", "_off", "_cb_part")
    )


@query(
    "c12_token_budget_select",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, n_chars,
             len(string_split_regex(lower(text), '{_WS_SPLIT}')) AS tok
      FROM documents),
    q AS (
      SELECT *, CAST(tok AS DOUBLE) / n_chars AS quality FROM t),
    c AS (
      SELECT *,
             SUM(tok) OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM q)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cum <= {_C12_BUDGET} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN cum <= {_C12_BUDGET} THEN tok ELSE 0 END)
             AS BIGINT) AS tokens_kept,
           ROUND(CAST(SUM(CASE WHEN cum <= {_C12_BUDGET} THEN tok ELSE 0 END)
             AS DOUBLE) / {_C12_BUDGET}, 6) AS utilization,
           ROUND(MIN(CASE WHEN cum <= {_C12_BUDGET} THEN quality END), 6)
             AS min_quality_kept
    FROM c GROUP BY source
    """,
)
def c12_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus assembly under a per-domain token budget: take documents
    in quality order (density = tokens/char, a stand-in for a model
    score; ties on doc_id) until the domain's cumulative token count
    exceeds the budget. Because token counts are positive the inclusive
    cumulative sum is monotone, so ``cum <= budget`` IS the
    stop-at-first-overflow semantics — no iterative knapsack needed.

    100 TB design: the ranking cumsum uses ``grouped_cum_before`` — a
    range shuffle on (source, quality DESC, doc_id) so a terabyte domain
    spreads over many partitions instead of sorting on one reducer (the
    plan gate in test_curation.py asserts no SinglePartition exchange),
    a per-(partition, domain) offsets job, and a partition-local window.
    The oracle computes the same selection with a plain partitioned
    window (fine on DuckDB's single node); both agree because
    (quality, doc_id) is a total order and tok/n_chars is the same
    IEEE-754 double in both engines.
    """
    c = _c12_ranked(table(spark, sf_dir, "documents"))
    kept = (F.col("cum_before") + F.col("tok")) <= _C12_BUDGET
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("tok")).otherwise(0)).cast("long").alias("tokens_kept"),
        F.round(
            F.sum(F.when(kept, F.col("tok")).otherwise(0)).cast("double")
            / _C12_BUDGET,
            6,
        ).alias("utilization"),
        F.round(F.min(F.when(kept, F.col("quality"))), 6).alias("min_quality_kept"),
    )


# ---------------------------------------------------------------------------
# c13: end-to-end mix assembly (budget-select -> epoch-upsample -> pack)
# ---------------------------------------------------------------------------

_C13_PACK = _C6_BUDGET  # context budget in tokens — c6's, by construction

# Interleave-key stride: ord = doc_id * stride + epoch is a TOTAL order
# only while epoch <= stride, i.e. stride >= max n_copies = ceil(max
# factor) (floor(f)+1 == ceil(f) for fractional f; == f for integral f,
# whose promotion never fires). Derived, not hardcoded: a factor tune to
# e.g. 4.5 would otherwise collide doc A epoch 5 with doc A+1 epoch 1,
# making the packing tie order engine-dependent and failing the oracle
# nondeterministically.
_C13_STRIDE = math.ceil(max(_C11_FACTORS))


@query(
    "c13_e2e_mix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, n_chars,
             len(string_split_regex(lower(text), '{_WS_SPLIT}')) AS tok
      FROM documents),
    q AS (SELECT *, CAST(tok AS DOUBLE) / n_chars AS quality FROM t),
    c AS (
      SELECT *,
             SUM(tok) OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM q),
    kept AS (SELECT * FROM c WHERE cum <= {_C12_BUDGET}),
    fac AS (
      SELECT doc_id, source, tok,
             {_C11_FACTOR_SQL} AS te,
             {_pct_sql('doc_id', _EPOCH_MULT)} AS pct
      FROM kept),
    copies AS (
      SELECT doc_id, source, tok,
             CAST(FLOOR(te) AS BIGINT)
               + CASE WHEN pct < (te - FLOOR(te)) * 100 THEN 1 ELSE 0 END
               AS n_copies
      FROM fac),
    emitted AS (
      SELECT doc_id, source, tok,
             unnest(generate_series(1, n_copies)) AS epoch
      FROM copies),
    packed AS (
      SELECT doc_id, source, tok, epoch,
             COALESCE(SUM(tok) OVER (ORDER BY doc_id * {_C13_STRIDE} + epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM emitted)
    SELECT CAST(cum_before // {_C13_PACK} AS BIGINT) AS context_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(tok) AS BIGINT) AS n_tokens
    FROM packed GROUP BY context_id
    """,
)
def c13_e2e_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-mix assembly line COMPOSED end-to-end, one logical
    plan: per-domain token-budget selection (c12's grouped stop-at-
    overflow cumsum) -> fractional-epoch up-sampling of the survivors
    (c11's narrow explode) -> packing the emitted multiset into
    512-token contexts (c6's global two-pass cumsum, ordered by the
    total key doc_id*stride+epoch so copies interleave
    deterministically; stride derived from the factor set, see
    _C13_STRIDE). Each stage is the SAME definition its standalone
    operator runs — _c12_ranked, _c11_target/_c11_n_copies, c6's
    budget — so a tune to any one of them carries into the
    composition (and its oracle) automatically. Output: per-context
    row/doc/source/token counts — the shape a training loader
    consumes.

    100 TB design: the three stages chain without materializing between
    them — the budget stage's range-partitioned frame feeds the explode
    directly, and the only driver work is the two offsets jobs
    (O(partitions x domains) and O(partitions)).
    """
    c = _c12_ranked(table(spark, sf_dir, "documents"))
    kept = c.where((F.col("cum_before") + F.col("tok")) <= _C12_BUDGET)
    emitted = kept.select(
        "doc_id",
        "source",
        "tok",
        F.explode(
            F.sequence(F.lit(1).cast("long"), _c11_n_copies(_c11_target()))
        ).alias("epoch"),
    ).withColumn("ord", F.col("doc_id") * _C13_STRIDE + F.col("epoch"))

    packed = global_cum_before(emitted, "ord", "tok", _C6_N_PARTS)
    return packed.groupBy(
        F.floor(F.col("cum_before") / _C13_PACK).alias("context_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("tok").cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# c14: exact dedup -> ExactSubstr span excision -> split, composed
# ---------------------------------------------------------------------------

# Planted rows give every stage real work at verification scale: span
# copies (+1e6, every 10th doc, d8's wrapped middle slice) feed the
# excision; verbatim copies (+2e6, every 20th doc) feed the exact-dedup
# stage, which removes them BEFORE shingling — the published pipeline
# order (exact dedup first, then ExactSubstr), so a full duplicate is
# dropped whole instead of being shredded into excised spans.
_C14_CORPUS_SQL = """
    base AS (SELECT doc_id, source, lower(text) AS text FROM documents),
    corpus AS (
      SELECT doc_id, source, text FROM base
      UNION ALL
      SELECT doc_id + 1000000, source,
             'zq yq xq ' ||
             array_to_string((string_split(text, ' '))[4:15], ' ')
             || ' wq vq uq'
      FROM base WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000, source, text FROM base WHERE doc_id % 20 = 0)
"""


def _c14_oracle() -> str:
    from .dedup import _D8_K

    return f"""
    WITH {_C14_CORPUS_SQL},
    uniq AS (
      SELECT doc_id, source, text FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM corpus) WHERE rn = 1),
    words AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM uniq),
    sh AS (
      SELECT doc_id,
             unnest(generate_series(0, len(ws) - {_D8_K})) AS pos,
             ws
      FROM words WHERE len(ws) >= {_D8_K}),
    hashed AS (
      SELECT doc_id, pos,
             md5(array_to_string(ws[pos + 1:pos + {_D8_K}], ' ')) AS h
      FROM sh),
    flagged AS (
      SELECT doc_id, pos,
             MIN(doc_id) OVER (PARTITION BY h) AS lo,
             MAX(doc_id) OVER (PARTITION BY h) AS hi
      FROM hashed),
    losing AS (
      SELECT doc_id, pos FROM flagged WHERE lo <> hi AND lo < doc_id),
    cov AS (
      SELECT DISTINCT doc_id,
             pos + unnest(generate_series(0, {_D8_K - 1})) AS wpos
      FROM losing),
    ncov AS (SELECT doc_id, COUNT(*) AS n_dropped FROM cov GROUP BY doc_id),
    stats AS (
      SELECT w.doc_id, w.source, len(w.ws) AS tb,
             len(w.ws) - COALESCE(n.n_dropped, 0) AS ta,
             n.doc_id IS NOT NULL AS cut
      FROM words w LEFT JOIN ncov n ON n.doc_id = w.doc_id),
    labeled AS (
      SELECT *,
             CASE WHEN {_pct_sql('doc_id', _SPLIT_MULT)} < 90 THEN 'train'
                  WHEN {_pct_sql('doc_id', _SPLIT_MULT)} < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM stats)
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_cut,
           CAST(SUM(tb) AS BIGINT) AS tok_before,
           CAST(SUM(ta) AS BIGINT) AS tok_after
    FROM labeled GROUP BY split, source
    """


def c14_dedup_excise_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr cut COMPOSED into the curation line (r10): exact
    dedup by content hash, first occurrence wins (d1/c10's window shape)
    -> duplicated-span EXCISION of the survivors (d9's covered-word
    sets, keep-first at span granularity) -> deterministic 90/5/5 hash
    split (c3) -> per-(split, source) token accounting before/after the
    cut. This is the single highest-value dedup step in the published
    LLM pipelines running where it runs in production: between full-
    document dedup and the split.

    100 TB design: the deduped corpus is the multi-consumer wide
    relation here (the shingle branch and the stats join both read it),
    so it is localCheckpointed once — the sim6 signed-relation trade:
    without it each consumer re-executes the scan AND the content-hash
    dedup exchange. Past the checkpoint nothing wide shuffles again:
    the dup-flag window moves the skinny (doc, pos, digest) relation,
    covered-word sets are bounded by duplicated volume and come back
    via a broadcast hash join (plan-gated in test_curation.py — the
    excision must not re-shuffle the corpus frame), and the rollup is
    one partial+final aggregate.
    """
    from .dedup import _D8_K, covered_word_sets

    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.lower("text").alias("text")
    ).where(
        # same planted-id aliasing guard as dedup._d8_planted (r9 ADVICE)
        F.assert_true(
            F.col("doc_id") < 1000000,
            F.lit("c14 planted-id offsets (1e6/2e6) alias a natural doc_id"),
        ).isNull()
    )
    span_copy = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.concat(
            F.lit("zq yq xq "),
            F.array_join(F.slice(F.split("text", " "), 4, 12), " "),
            F.lit(" wq vq uq"),
        ).alias("text"),
    )
    exact_copy = base.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "source", "text"
    )
    corpus = base.unionAll(span_copy).unionAll(exact_copy)

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    uniq = (
        corpus.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    words = memo.materialize(
        uniq.select("doc_id", "source", F.split("text", " ").alias("ws")),
        eager=True,
    )
    # covered_word_sets applies the size(ws) >= k guard itself (r10
    # ADVICE made the precondition internal)
    cov = covered_word_sets(words.select("doc_id", "ws"), _D8_K)
    stats = words.join(cov, "doc_id", "left")
    pct = _pct("doc_id", _SPLIT_MULT)
    split = (
        F.when(pct < 90, F.lit("train")).when(pct < 95, F.lit("val")).otherwise("test")
    )
    return (
        stats.select(
            split.alias("split"),
            "source",
            F.size("ws").alias("tb"),
            (F.size("ws") - F.coalesce(F.size("cov"), F.lit(0))).alias("ta"),
            F.col("cov").isNotNull().alias("cut"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("cut").cast("long")).alias("n_docs_cut"),
            F.sum("tb").cast("long").alias("tok_before"),
            F.sum("ta").cast("long").alias("tok_after"),
        )
    )


query("c14_dedup_excise_split", oracle=_c14_oracle())(c14_dedup_excise_split)


# ---------------------------------------------------------------------------
# c15: leakage-safe split (split by near-dup CLUSTER, not by document)
# ---------------------------------------------------------------------------


def _c15_split_sql(key: str) -> str:
    return f"""CASE WHEN {_pct_sql(key, _SPLIT_MULT)} < 90 THEN 'train'
                  WHEN {_pct_sql(key, _SPLIT_MULT)} < 95 THEN 'val'
                  ELSE 'test' END"""


def _c15_oracle() -> str:
    from .dedup import _D6_LABEL_CTES

    return f"""
    WITH RECURSIVE {_D6_LABEL_CTES},
    toks AS (
      SELECT doc_id,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS tok
      FROM corpus),
    lab AS (
      SELECT l.doc_id, l.cluster_id, t.tok,
             {_c15_split_sql('l.doc_id')} AS naive_split,
             {_c15_split_sql('l.cluster_id')} AS split
      FROM labels l JOIN toks t ON t.doc_id = l.doc_id)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN split <> naive_split THEN 1 ELSE 0 END)
             AS BIGINT) AS n_rehomed,
           CAST(SUM(tok) AS BIGINT) AS n_tok,
           CAST(SUM(CASE WHEN split <> naive_split THEN tok ELSE 0 END)
             AS BIGINT) AS n_tok_rehomed
    FROM lab GROUP BY split
    """


def c15_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split at near-dup-CLUSTER granularity (r10): the
    published split discipline for dedup-aware corpora — if two
    documents are near-duplicates, a doc-level hash split can put one
    in train and one in test, and the eval set silently measures
    memorization. Here the c3 hash split keys on d6's component label
    (the cluster's minimum doc_id) instead of the document id, so a
    cluster lands in ONE split by construction (pytest additionally
    asserts no cluster straddles splits). ``n_rehomed`` counts the
    members whose naive doc-level split would have differed — each one
    is a would-have-been leak.

    r11 extends the receipt to TOKEN weight — the published leakage
    analyses report the token share of eval contaminated, not just doc
    counts — with ``n_tok`` (split token mass) and ``n_tok_rehomed``
    (token mass of the rehomed members), so tok-weighted leakage is
    ``n_tok_rehomed / n_tok`` per split.

    100 TB design: everything rides d6's component labels (banded LSH
    candidates -> min-label propagation, never all-pairs); the split
    itself is identity arithmetic on the label — no extra shuffle
    beyond d6's, and the rollup is one partial+final aggregate. The
    token weights join back as a skinny (doc_id, tok) projection of
    the corpus on the identity key — at scale both sides co-partition
    (bucket) on doc_id, and the projection carries no text. The oracle
    replays the same labels via d2's pair CTEs + a recursive closure
    and the same Knuth-hash split arithmetic on both keys.
    """
    from .dedup import _corpus, d6_dedup_components

    labels = d6_dedup_components(spark, sf_dir)
    toks = _corpus(spark, sf_dir, suffix="planted near duplicate suffix").select(
        "doc_id", F.size(F.split("text", _WS_SPLIT)).cast("long").alias("tok")
    )

    def split_of(col: str) -> Column:
        p = _pct(col, _SPLIT_MULT)
        return (
            F.when(p < 90, F.lit("train"))
            .when(p < 95, F.lit("val"))
            .otherwise("test")
        )

    lab = labels.select(
        "doc_id",
        "cluster_id",
        split_of("cluster_id").alias("split"),
        split_of("doc_id").alias("naive_split"),
    ).join(toks, "doc_id")
    rehomed = F.col("split") != F.col("naive_split")
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.sum((F.col("doc_id") != F.col("cluster_id")).cast("long")).alias(
            "n_members"
        ),
        F.sum(rehomed.cast("long")).alias("n_rehomed"),
        F.sum("tok").alias("n_tok"),
        F.sum(F.when(rehomed, F.col("tok")).otherwise(F.lit(0))).alias(
            "n_tok_rehomed"
        ),
    )


query("c15_leakage_safe_split", oracle=_c15_oracle())(c15_leakage_safe_split)


# ---------------------------------------------------------------------------
# c16: Gopher repetition CUT -> exact dedup -> split, composed
# ---------------------------------------------------------------------------

# Word-level analogs of the Gopher repetition-filter thresholds (Rae et
# al. 2021, table A1): drop a document when its top-2-gram or top-3-gram
# share exceeds these. t8 computes the same signals as a METRICS query;
# c16 applies them as the published pipelines do — a cut between the
# quality filters and dedup. Deliberately NOT in the cut: t8's
# dup_word_frac — Gopher's 0.30 threshold is for duplicate LINES, and
# the word-level analog is degenerate as a filter (measured on this
# corpus: mean dup-word fraction 0.50, 426/500 natural sf0.01 docs over
# the line threshold, while the top-gram shares cut 0 natural docs and
# every planted repetitive one).
_C16_TOP2 = 0.20
_C16_TOP3 = 0.18

# Planted rows give both stages real work at verification scale:
# repetitive docs (+1e6, every 10th doc: its first three words repeated
# eight times) trip the top-gram thresholds; verbatim copies (+2e6,
# every 20th doc) feed the dedup stage. Identical texts fold to
# identical metrics, so a duplicate GROUP is cut or kept as a unit —
# which is what lets the cut flag and the keep-first window live in one
# frame (the status CASE below).
def _c16_corpus_sql(base_where: str = "") -> str:
    """The c16 verification-corpus CTEs, with an optional base-doc
    filter — e6's driver face runs the same planted structure over a
    deterministic SLICE of the natural docs (its streaming drain costs
    real wall-clock per verification call; the slice preserves both
    plant families at proportional mass)."""
    return f"""
    base AS (SELECT doc_id, source, lower(text) AS text FROM documents
             {base_where}),
    corpus AS (
      SELECT doc_id, source, text FROM base
      UNION ALL
      SELECT doc_id + 1000000, source,
             trim(repeat(array_to_string(
                 (string_split_regex(text, '\\s+'))[1:3], ' ') || ' ', 8))
      FROM base WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000, source, text FROM base WHERE doc_id % 20 = 0)
"""


_C16_CORPUS_SQL = _c16_corpus_sql()


def _c16_oracle() -> str:
    from .textstats import _gram_metrics_sql

    return f"""
    WITH {_C16_CORPUS_SQL},
    w AS (
      SELECT doc_id, source, text,
             string_split_regex(text, '\\s+') AS ws
      FROM corpus),
    {_gram_metrics_sql(2)},
    {_gram_metrics_sql(3)},
    m AS (
      SELECT w.doc_id, w.source, w.text,
             CAST(len(ws) AS BIGINT) AS tok,
             COALESCE(CAST(a2.top2 AS DOUBLE) / a2.total2
                      > {_C16_TOP2}, FALSE)
             OR COALESCE(CAST(a3.top3 AS DOUBLE) / a3.total3
                         > {_C16_TOP3}, FALSE) AS cut
      FROM w
      LEFT JOIN a2 ON a2.doc_id = w.doc_id
      LEFT JOIN a3 ON a3.doc_id = w.doc_id),
    st AS (
      SELECT doc_id, source, tok,
             CASE WHEN cut THEN 'cut_rep'
                  WHEN ROW_NUMBER() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) = 1 THEN 'kept'
                  ELSE 'dupe' END AS status,
             CASE WHEN {_pct_sql('doc_id', _SPLIT_MULT)} < 90 THEN 'train'
                  WHEN {_pct_sql('doc_id', _SPLIT_MULT)} < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM m)
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN status = 'cut_rep' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_cut_rep,
           CAST(SUM(CASE WHEN status = 'dupe' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dupes,
           CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_docs_out,
           CAST(SUM(CASE WHEN status = 'kept' THEN tok ELSE 0 END)
             AS BIGINT) AS tok_out
    FROM st GROUP BY split, source
    """


def _c16_corpus(spark: SparkSession, sf_dir: str, every: int = 1) -> DataFrame:
    """The planted verification corpus both c16 and its streaming face
    (e6) run over — the Spark twin of _c16_corpus_sql: natural docs +
    repetitive copies (+1e6, trip the top-gram cut) + verbatim copies
    (+2e6, feed the dedup stage). (doc_id, source, text) with text
    lowered. ``every`` > 1 keeps only every Nth natural doc (and with
    it that slice's plants) — e6's cost trim; the default leaves c16's
    plan untouched."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.lower("text").alias("text")
    ).where(
        F.assert_true(
            F.col("doc_id") < 1000000,
            F.lit("c16 planted-id offsets (1e6/2e6) alias a natural doc_id"),
        ).isNull()
    )
    if every > 1:
        base = base.where(F.col("doc_id") % every == 0)
    rep_copy = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.trim(
            F.repeat(
                F.concat(
                    F.array_join(
                        F.slice(F.split("text", _WS_SPLIT), 1, 3), " "
                    ),
                    F.lit(" "),
                ),
                8,
            )
        ).alias("text"),
    )
    exact_copy = base.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "source", "text"
    )
    return base.unionAll(rep_copy).unionAll(exact_copy)


def c16_repetition_cut_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t8's Gopher repetition signals applied as a CUT and composed
    into the curation line (r11, the published-pipeline order): drop
    documents whose top-2-gram / top-3-gram share exceeds the Rae et
    al. thresholds (see the _C16_* note on why the duplicated-word
    fraction stays a metric, not a cut), exact-dedup the
    survivors (keep-first, d1/c10's window shape), hash-split, and
    account every document per (split, source) as cut_rep / dupe /
    kept, with surviving token mass.

    The one-frame trick: identical texts have identical in-row metrics,
    so a duplicate group is cut or kept as a UNIT — the keep-first
    window (partition md5(text), order doc_id) and the cut flag compose
    as a single CASE, no survivors-only re-shuffle or union-back.

    100 TB design: the repetition fold rides the scan IN-ROW (t8's
    zero-exchange aggregate fold, shared via gram_top_total_distinct)
    BELOW the dedup exchange, so cut documents are flagged before the
    corpus ever shuffles and the whole operator is exactly two
    exchanges: the md5 dedup window and the final rollup. Plan-gated in
    test_curation.py: no Generate (the relational explode form would
    blow the corpus 20x pre-shuffle), no join, <= 2 logical exchanges.
    O(len log len) per doc, independent of corpus size.
    """
    return repetition_cut_split_df(_c16_corpus(spark, sf_dir))


def repetition_cut_flag() -> Column:
    """The Gopher cut predicate over a ``ws: array<string>`` column —
    a stateless in-row expression, so the SAME flag rides a batch scan
    (c16) or a document stream (streaming.dedup.streaming_quality_cut)
    unchanged."""
    from .textstats import gram_top_total_distinct

    t2, top2, _ = gram_top_total_distinct(2)
    t3, top3, _ = gram_top_total_distinct(3)

    def over(num: Column, den: Column, thr: float, n: int) -> Column:
        # the size guard must be a lazy CASE branch: for a sub-n doc the
        # denominator is 0 (ANSI divide-by-zero) and the fold's
        # sequence(1, size-n+1) would go descending into element_at(ws, 0)
        return F.coalesce(
            F.when(F.size("ws") >= n, num.cast("double") / den > thr),
            F.lit(False),
        )

    return over(top2, t2, _C16_TOP2, 2) | over(top3, t3, _C16_TOP3, 3)


def repetition_cut_split_df(corpus: DataFrame) -> DataFrame:
    """c16's pipeline over any (doc_id, source, text) frame (the scale
    probe drives it directly, like dedup.span_excise_df for d9)."""
    m = corpus.withColumn("ws", F.split("text", _WS_SPLIT)).select(
        "doc_id",
        "source",
        "text",
        F.size("ws").cast("long").alias("tok"),
        repetition_cut_flag().alias("cut"),
    )
    rn = F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy("doc_id")
    )
    pct = _pct("doc_id", _SPLIT_MULT)
    split = (
        F.when(pct < 90, F.lit("train")).when(pct < 95, F.lit("val")).otherwise("test")
    )
    st = m.select(
        "doc_id",
        "source",
        "tok",
        F.when(F.col("cut"), "cut_rep")
        .when(rn == 1, "kept")
        .otherwise("dupe")
        .alias("status"),
        split.alias("split"),
    )
    kept = F.col("status") == "kept"
    return st.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("status") == "cut_rep").cast("long")).alias("n_cut_rep"),
        F.sum((F.col("status") == "dupe").cast("long")).alias("n_dupes"),
        F.sum(kept.cast("long")).alias("n_docs_out"),
        F.sum(F.when(kept, F.col("tok")).otherwise(F.lit(0))).alias("tok_out"),
    )


query("c16_repetition_cut_split", oracle=_c16_oracle())(c16_repetition_cut_split)
