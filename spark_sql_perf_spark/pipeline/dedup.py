"""Deduplication operators over the `documents` / `embeddings` tables.

Ten dedup families, each a `queries()` entry with a DuckDB oracle:

  d1 exact            hash-groupBy on canonicalized text
  d2 minhash-lsh      shingle -> k minhashes -> banded buckets -> verify
  d3 simhash          16-bit sign-of-sum signature over token hashes
  d4 ngram-jaccard    exact jaccard verification on LSH candidates (in d2)
  d5 embedding cosine near-dup pairs over array<float> vectors,
     candidates from sign-LSH bucket blocking (shared with sim2)
  d6 components       duplicate-cluster resolution via min-label propagation
  d7 segment dedup    C4-style corpus-wide line dedup + in-order reassembly
  d8 duplicated spans maximal repeated k-gram runs (ExactSubstr report half)
  d9 span excision    keep-first span removal (ExactSubstr cut half)
  d10 incremental     probe an arriving batch against the indexed corpus
      (continuous ingestion: index once, broadcast the batch, never
      re-dedup or reshuffle the corpus)

The driver corpus has **no natural duplicates** (verified: texts are unique
at every sf), so each query PLANTS deterministic duplicates by unioning a
perturbed copy of every 10th document — both engines construct the same
corpus, so results stay oracle-exact and non-empty at any scale factor.

Scale design (100 TB): every family is shuffle-bounded by design —
exact dedup shuffles on a 128-bit hash (not the text); MinHash shuffles
(doc, shingle-hash) pairs and bands, never the pairwise cross product;
the only pairwise work happens inside an LSH band bucket. No Python UDFs;
everything is codegen'd column expressions over md5 (the one hash Spark
and DuckDB share).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..catalog import fan_out as _fan_out
from ..catalog import table
from ..functions.text import md5_hash32, md5_hash32_sql
from ..operators.registry import query

_N_HASHES = 6  # minhash signature length; banded 3 x 2
_BANDS = [(0, 1), (2, 3), (4, 5)]
_JACCARD_THRESHOLD = 0.6

# Linear-permutation minhash family: h_j = (A_j * h + B_j) mod P over the
# base md5 hash. One md5 per shingle instead of _N_HASHES — the classic
# construction, and it keeps every derived hash integer-exact in both
# engines (P = 2^31 - 1; A_j * h < 2^62 fits BIGINT).
_P = 2_147_483_647
_PERM = [(1, 0), (1_103_515_245, 12_345), (214_013, 2_531_011),
         (22_695_477, 1), (134_775_813, 1_013_904_223), (1_664_525, 1_013_904_223)]

# ---------------------------------------------------------------------------
# planted-duplicate corpus, identical in Spark and DuckDB
# ---------------------------------------------------------------------------

_CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, lower(text) AS text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lower(text) || ' planted near duplicate suffix'
      FROM documents WHERE doc_id % 10 = 0)
"""

_EXACT_CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, lower(text) AS text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lower(text)
      FROM documents WHERE doc_id % 10 = 0)
"""


def _corpus(spark: SparkSession, sf_dir: str, suffix: str | None) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.lower(F.col("text")).alias("text"))
    planted_text = (
        F.concat(F.lower(F.col("text")), F.lit(" " + suffix)) if suffix else F.lower(F.col("text"))
    )
    planted = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), planted_text.alias("text")
    )
    return base.unionAll(planted)


# ---------------------------------------------------------------------------
# d1: exact dedup
# ---------------------------------------------------------------------------


@query(
    "d1_dedup_exact",
    oracle=f"""
    WITH {_EXACT_CORPUS_SQL}
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM corpus
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    """,
)
def d1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the lowest doc_id.

    Shuffles 16-byte hashes, never document bodies — at 100 TB the shuffle
    volume is |docs| x 16B regardless of text size.
    """
    corpus = _corpus(spark, sf_dir, suffix=None)
    return (
        corpus.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# the minhash kernel: 3-word shingles -> md5 -> linear permutations -> bands
# ---------------------------------------------------------------------------

# One definition per engine, shared by d2 (and through it d6, c7, c15),
# d10, d11 and the at-rest streaming index: every relation is keyed on
# `id`, so the one-shot and the incremental queries read the same index.


def _minhash_ctes_sql(src: str, p: str) -> str:
    """DuckDB CTE chain src -> {p}hashed / {p}sigs / {p}bands for a
    source CTE with columns (id, text). The prefix lets one query index
    and probe two different relations with the SAME hash family (d10,
    d11); d2 runs it once with an empty prefix."""
    return f"""
    {p}shingled AS (
      SELECT id, string_split_regex(text, '\\s+') AS ws FROM {src}),
    {p}shingles AS (
      SELECT DISTINCT id,
             unnest(list_transform(range(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM {p}shingled WHERE len(ws) >= 3),
    {p}hashed AS (
      SELECT DISTINCT id, {md5_hash32_sql('sh', 'mh')} % {_P} AS h
      FROM {p}shingles),
    {p}perms AS (
      SELECT id,
             {', '.join(f'(({a} * h + {b}) % {_P}) AS h{j}' for j, (a, b) in enumerate(_PERM))}
      FROM {p}hashed),
    {p}sigs AS (
      SELECT id, {', '.join(f'MIN(h{j}) AS m{j}' for j in range(_N_HASHES))},
             COUNT(*) AS n_sh
      FROM {p}perms GROUP BY id),
    {p}bands AS (
      {' UNION ALL '.join(
          f"SELECT id, {bi} AS band, md5(CAST(m{a} AS VARCHAR) || ',' || CAST(m{b} AS VARCHAR)) AS bh FROM {p}sigs"
          for bi, (a, b) in enumerate(_BANDS))})"""


def _minhash_hashed(corpus: DataFrame) -> DataFrame:
    """The expensive leg of the minhash pipeline: shingle explode ->
    per-shingle md5 -> distinct (id, h). Shingles are hashed to ints
    BEFORE the distinct, so the dedup shuffle and every downstream join
    move 8-byte longs, never shingle strings."""
    ws = F.split("text", r"\s+")
    shingles = F.expr(
        "transform(sequence(1, size(ws) - 2),"
        " i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1), element_at(ws, i+2)))"
    )
    return (
        corpus.select("id", ws.alias("ws"))
        .where(F.size("ws") >= 3)
        .select("id", F.explode(shingles).alias("sh"))
        .select("id", (md5_hash32("sh", "mh") % _P).alias("h"))
        .distinct()
    )


def _sigs_from_hashed(hashed: DataFrame) -> DataFrame:
    """(id, m0..m5, n_sh): one md5 per shingle; the other minhash
    functions are linear permutations of it. n_sh is the shingle-set
    size the exact-jaccard verify divides by. The fixed expressions are
    parsed SQL fragments: one py4j call each, not one per operator."""
    return hashed.selectExpr(
        "id", *[f"(({a} * h + {b}) % {_P}) AS h{j}" for j, (a, b) in enumerate(_PERM)]
    ).groupBy("id").agg(
        *[F.expr(f"min(h{j}) AS m{j}") for j in range(_N_HASHES)],
        F.expr("count(1) AS n_sh"),
    )


def _bands_from_sigs(sigs: DataFrame) -> DataFrame:
    """(id, band, bh): one row per (doc, band) via explode — a union
    would recompute the signature aggregation once per band. The band
    structs are one parsed SQL fragment."""
    band_structs = ", ".join(
        f"struct({bi} AS band,"
        f" md5(concat(CAST(m{a} AS STRING), ',', CAST(m{b} AS STRING))) AS bh)"
        for bi, (a, b) in enumerate(_BANDS)
    )
    return sigs.selectExpr("id", f"explode(array({band_structs})) AS s").selectExpr(
        "id", "s.band AS band", "s.bh AS bh"
    )


def _minhash_frames(corpus: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(hashed, sigs, bands) for an (id, text) frame — the Spark twin
    of _minhash_ctes_sql, relation for relation. Lazy: right for
    single-consumer callers (the streaming index writer)."""
    hashed = _minhash_hashed(corpus)
    sigs = _sigs_from_hashed(hashed)
    return hashed, sigs, _bands_from_sigs(sigs)


def _minhash_frames_materialized(
    corpus: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """_minhash_frames with the two aggregate legs MATERIALIZED
    (localCheckpoint, per invocation — recomputed from the parquet scan
    every call; nothing is reused across calls). d2 and the probe
    queries (d10/d11) consume hashed, sigs AND bands in one plan, and
    Catalyst re-derives each from the scan: the r13 stage profile
    showed the corpus shingle+md5+distinct pipeline executing twice per
    probe (two identical 2.6 MB exchanges, each a ~1.2 s single-task
    stage at sf0.1) and the batch side twice more. Materializing hashed
    and sigs makes every consumer read the computed relation instead —
    exactly the at-rest production layout, where the index relations
    are parquet, computed once (guide §1.2: don't compute things twice;
    §3.3: materialize an intermediate consumed by several joins). The
    shingle explode + md5 is a compute-heavy per-row pipeline fused
    into the scan, so the single-row-group scan fans out first."""
    hashed = memo.materialize(_minhash_hashed(_fan_out(corpus)), eager=False)
    sigs = memo.materialize(_sigs_from_hashed(hashed), eager=False)
    return hashed, sigs, _bands_from_sigs(sigs)


# ---------------------------------------------------------------------------
# d2: MinHash + LSH banding + exact-jaccard verify (also covers d4)
# ---------------------------------------------------------------------------


# d2's full CTE chain through the verified near-dup `pairs` relation —
# shared by d2's oracle and d6's connected-components oracle
_D2_PAIR_CTES = f"""{_CORPUS_SQL},
    docs AS (SELECT doc_id AS id, text FROM corpus),
    {_minhash_ctes_sql('docs', '')},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      WHERE a.id < b.id),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
        JOIN hashed sa ON sa.id = c.id_a
        JOIN hashed sb ON sb.id = c.id_b AND sb.h = sa.h
      GROUP BY c.id_a, c.id_b),
    pairs AS (
      SELECT id_a, id_b,
             ROUND(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
      FROM common
        JOIN sigs na ON na.id = id_a
        JOIN sigs nb ON nb.id = id_b
      WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common)
            >= {_JACCARD_THRESHOLD})"""


@query(
    "d2_dedup_minhash_lsh",
    oracle=f"""
    WITH {_D2_PAIR_CTES}
    SELECT id_a, id_b, jaccard FROM pairs
    """,
)
def d2_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection with exact-jaccard verification.

    shingle -> {_N_HASHES} md5-derived minhashes -> {len(_BANDS)} bands of 2
    -> band-bucket join for candidates -> exact n-gram jaccard >= {_JACCARD_THRESHOLD}.

    The pairwise join happens ONLY between band-bucket collisions — the
    cross product never materializes, which is the property that lets
    MinHash dedup run at 100 TB (candidates ~ near-dups, not |docs|^2).
    """
    corpus = _corpus(spark, sf_dir, suffix="planted near duplicate suffix")
    # the shared kernel, materialized per call: hashed feeds sigs plus
    # both sides of the verify join, sigs feeds bands and the sizes
    hashed, sigs, bands = _minhash_frames_materialized(
        corpus.select(F.col("doc_id").alias("id"), "text")
    )
    # the candidate self-join and the verify stay shuffled: both sides
    # are the whole corpus (probe_with_index broadcasts a small batch)
    left = bands.alias("a")
    right = bands.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    sa = hashed.alias("sa")
    sb = hashed.alias("sb")
    common = (
        cand.join(sa, F.col("sa.id") == F.col("id_a"))
        .join(sb, (F.col("sb.id") == F.col("id_b")) & (F.col("sb.h") == F.col("sa.h")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sigs.select("id", "n_sh")
    jac = F.col("n_common").cast("double") / (
        F.col("na.n_sh") + F.col("nb.n_sh") - F.col("n_common")
    )
    return (
        common.join(sizes.alias("na"), F.col("na.id") == F.col("id_a"))
        .join(sizes.alias("nb"), F.col("nb.id") == F.col("id_b"))
        .where(jac >= _JACCARD_THRESHOLD)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# d6: duplicate-cluster resolution (connected components over d2 pairs)
# ---------------------------------------------------------------------------


# d6's full CTE chain through per-doc component labels — shared by d6's
# oracle and c15's leakage-safe split oracle (curation.py)
_D6_LABEL_CTES = f"""{_D2_PAIR_CTES},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
    labels AS (
      SELECT c.doc_id,
             LEAST(c.doc_id, COALESCE(MIN(r.dst), c.doc_id)) AS cluster_id
      FROM corpus c LEFT JOIN reach r ON r.src = c.doc_id
      GROUP BY c.doc_id)"""


@query(
    "d6_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_D6_LABEL_CTES}
    SELECT doc_id, cluster_id, doc_id = cluster_id AS keep
    FROM labels
    """,
)
def d6_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution — the dedup pipeline's actual
    deliverable: for every doc, the connected component it belongs to in
    the verified near-dup graph (d2's pairs), labeled by the component's
    minimum doc_id, plus the keep/drop decision (keep exactly the
    minimum of each cluster; singletons keep themselves).

    Spark side: min-label propagation to a FIXPOINT — each iteration
    joins labels one hop along the (symmetrized) pair edges and takes
    the elementwise min; convergence is detected by the monotone label
    sum (strictly decreases until the fixpoint, at most diameter
    iterations; LSH duplicate clusters are near-cliques, so 2-3 in
    practice). The per-iteration frame is localCheckpoint()ed so plan
    lineage stays flat. At 1000x scale the same loop runs with each
    iteration a bulk shuffle join — or swap in the large-star/small-star
    O(log n) variant; the contract (min-id component labels) is
    unchanged. Oracle: transitive closure via a recursive CTE + MIN —
    the iterative algorithm verifies engine-vs-engine, hash-exact,
    because both sides compute the same fixpoint.
    """
    pairs = d2_dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    edges = memo.materialize(edges, eager=True)
    docs = _corpus(spark, sf_dir, suffix="planted near duplicate suffix").select(
        "doc_id"
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("lbl"))
    prev_sum = prev = None
    for _ in range(30):  # >= any plausible component diameter
        labels = memo.materialize(labels, eager=True)
        memo.release(prev)  # superseded: the new labels are computed
        prev = labels
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            memo.release(edges)  # the returned labels no longer read it
            break
        prev_sum = cur_sum
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        labels = (
            labels.join(nbr_min, labels["doc_id"] == nbr_min["src"], "left")
            .select(
                labels["doc_id"],
                F.least(
                    labels["lbl"], F.coalesce(F.col("nbr_lbl"), labels["lbl"])
                ).alias("lbl"),
            )
        )
    return labels.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        (F.col("doc_id") == F.col("lbl")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# d3: SimHash signatures
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 16


@query(
    "d3_dedup_simhash",
    oracle=f"""
    WITH {_CORPUS_SQL},
    toks AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
      FROM corpus),
    hashed AS (
      SELECT doc_id, {md5_hash32_sql('w', 'sim')} AS h FROM toks),
    bits AS (
      SELECT doc_id,
             {', '.join(f"SUM(CASE WHEN ((h >> {k}) & 1) = 1 THEN 1 ELSE -1 END) AS s{k}"
                        for k in range(_SIMHASH_BITS))}
      FROM hashed GROUP BY doc_id)
    SELECT doc_id,
           {' + '.join(f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)"
                       for k in range(_SIMHASH_BITS))} AS simhash
    FROM bits
    """,
)
def d3_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 16-bit sign-of-sum signature over distinct-token hashes.

    Near-dup docs get signatures within small hamming distance; the
    signature itself is the oracle-checked output (the grouping key a
    simhash dedup would bucket on).
    """
    corpus = _corpus(spark, sf_dir, suffix="planted near duplicate suffix")
    toks = corpus.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("w")
    ).distinct()
    hashed = toks.select("doc_id", md5_hash32("w", "sim").alias("h"))
    bits = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"((h >> {k}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"s{k}")
            for k in range(_SIMHASH_BITS)
        ]
    )
    sim = None
    for k in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bits.select("doc_id", sim.alias("simhash"))


# ---------------------------------------------------------------------------
# d5: embedding-cosine near-dup
# ---------------------------------------------------------------------------


def _d5_oracle() -> str:
    from ..functions.lsh import lsh_bucketed_cte_sql, lsh_sig_cols_sql

    cos = (
        "list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))"
        " / (SQRT(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])))"
        "    * SQRT(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i]))))"
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5)
      FROM embeddings WHERE vec_id % 10 = 0),
    presigned AS (
      SELECT vec_id, v, {lsh_sig_cols_sql()} FROM corpus),
    {lsh_bucketed_cte_sql("presigned", out="signed")},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos
      FROM signed a JOIN signed b
        ON a.sig = b.sig AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, ROUND(cos, 6) AS cosine
    FROM pairs WHERE cos >= 0.999
    """


@query("d5_dedup_embedding", oracle=_d5_oracle())
def d5_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine >= 0.999 between same-bucket candidates
    under sign-LSH (random-hyperplane) blocking — the production shape:
    candidates come from a signature equi-join (sim2's bucketing, shared
    helpers in ``pipeline/similarity.py``), never a planted-id oracle
    backdoor and never the |corpus|^2 cross product.

    Recall on the planted duplicates is exactly 1.0 by construction: a
    rescaled copy 0.5*x has the IDENTICAL hyperplane sign signature as x
    (signs are scale-invariant) AND the identical extension signature, so
    every planted pair shares a bucket even through the LSH-forest
    ADAPTIVE split (similarity.lsh_buckets_df: buckets over the size cap
    re-hash with extension planes, RECURSIVELY since r8 so the cap is an
    actual bound — without the split the probe measured the
    candidate-pair tail growing superlinearly, SCALE_PROBE.md). The
    DuckDB oracle runs the same adaptive blocking, so it stays
    hash-exact. At 100 TB the shuffle is on the signature; pairwise
    cosine work happens only within capped buckets — never |corpus|^2
    and never a quadratic dense-bucket tail.
    """
    from .similarity import embedding_dim

    emb = table(spark, sf_dir, "embeddings")
    orig = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    planted = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 0.5).alias("v"),
    )
    dim = embedding_dim(orig, key=sf_dir)
    # registry pin: oracle-scale params (the DuckDB twin replays them)
    return embedding_near_dup_df(orig.unionAll(planted), dim=dim)


def embedding_near_dup_df(
    vecs: DataFrame,
    dim: int | None = None,
    threshold: float = 0.999,
    params=None,
    n: int | None = None,
) -> DataFrame:
    """d5's blocking + pairwise-cosine on an explicit (vec_id, v) frame —
    the production entry point. Pass ``n`` (corpus rows) to size the LSH
    key space with ``functions.lsh.sized_params`` (the rule the scale
    probe validates), or an explicit ``params``; the default is the
    oracle-scale module constants d5's registry oracle pins."""
    from ..functions.lsh import LshParams, sized_params
    from .similarity import _cosine, lsh_buckets_df

    if params is None:
        params = sized_params(n) if n is not None else LshParams()
    signed = lsh_buckets_df(
        vecs, params.nbits, params.split_bits, params.cap, dim, params.levels
    )
    a = signed.alias("a")
    b = signed.alias("b")

    cos = _cosine("a.v", "b.v", dim)
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# d7: segment-level exact dedup (C4-style line dedup)
# ---------------------------------------------------------------------------

_D7_SEG_WORDS = 12


@query(
    "d7_segment_dedup",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    segs AS (
      SELECT doc_id,
             unnest(range(0, CAST(CEIL(len(ws) / {_D7_SEG_WORDS}.0) AS INT))) AS seg_idx,
             ws
      FROM words),
    seg_text AS (
      SELECT doc_id, seg_idx,
             array_to_string(
               ws[(seg_idx * {_D7_SEG_WORDS} + 1):((seg_idx + 1) * {_D7_SEG_WORDS})],
               ' ') AS seg
      FROM segs),
    flagged AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1
               AS kept
      FROM seg_text)
    SELECT doc_id,
           COUNT(*) AS n_segments,
           COUNT(*) FILTER (kept) AS n_kept,
           string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_idx)
             AS dedup_text
    FROM flagged GROUP BY doc_id
    """,
)
def d7_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide segment-level exact dedup (the C4/CCNet "line dedup"
    pass: drop every repeated line across the whole corpus, keeping the
    first occurrence, then reassemble documents from their surviving
    lines). The testdata text is single-line, so fixed 12-word windows
    stand in for newline segments — the machinery (segment -> global
    first-occurrence winner -> in-order reassembly) is the deliverable
    and is segmentation-agnostic.

    100 TB design: one shuffle groups segments by their text (at scale,
    group on xxhash64/md5 of the segment and never shuffle bodies — same
    discipline as d1); the winner per group is min(doc_id, seg_idx) — an
    order-independent partial aggregate, not a window sort over the whole
    corpus (the DuckDB oracle uses ROW_NUMBER for the same keep set; the
    Spark plan keeps the agg form because a min-struct combines map-side
    while a global window cannot). Reassembly is a per-document sort of
    O(segments/doc) arrays. Keep decisions are deterministic across
    partitionings and retries because the winner key is a total order.
    The segment derivation feeds both the winner agg and the flag join,
    so the source scans twice — linear re-derivation (split + explode),
    not an explosion; materialize the segment relation (as the g3
    triangle path does its support pairs) when the source scan dominates.
    """
    return segment_dedup_df(table(spark, sf_dir, "documents"))


def segment_dedup_df(docs: DataFrame, seg_words: int = _D7_SEG_WORDS) -> DataFrame:
    """d7's corpus-wide line-dedup pipeline over any (doc_id, text) frame
    (the scale probe drives it on generated corpora)."""
    nseg = F.ceil(F.size(F.split("text", " ")) / seg_words).cast("int")
    segs = docs.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
        F.explode(F.sequence(F.lit(0), nseg - 1)).alias("seg_idx"),
    ).select(
        "doc_id",
        "seg_idx",
        F.array_join(
            F.slice(
                "ws", F.col("seg_idx") * seg_words + 1, F.lit(seg_words)
            ),
            " ",
        ).alias("seg"),
    )
    winners = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("w")
    )
    flagged = segs.join(winners, "seg").select(
        "doc_id",
        "seg_idx",
        "seg",
        (
            (F.col("w.doc_id") == F.col("doc_id"))
            & (F.col("w.seg_idx") == F.col("seg_idx"))
        ).alias("kept"),
    )
    kept_struct = F.when(F.col("kept"), F.struct("seg_idx", "seg"))
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)), lambda s: s["seg"]
            ),
            " ",
        ).alias("joined"),
    )
    # NULL iff NO segment survived (string_agg-over-empty semantics) —
    # keyed on n_kept, not nullif(joined, ''), so a doc whose only kept
    # segment IS the empty string stays '' exactly like the oracle's
    # string_agg over [''] does
    return agg.select(
        "doc_id",
        "n_segments",
        "n_kept",
        F.when(F.col("n_kept") > 0, F.col("joined")).alias("dedup_text"),
    )


# ---------------------------------------------------------------------------
# d8: duplicated-span extraction (maximal repeated k-gram runs)
# ---------------------------------------------------------------------------

_D8_K = 5  # shingle width in words

# Planted cross-document spans: the driver corpus has no natural full-
# document duplicates, and cross-document REPEATED PASSAGES (what d8
# detects) need two documents sharing a >= _D8_K-word run. Every 10th
# document donates its words 4..15 (a 12-word middle slice) to a new
# planted document, wrapped in 3-word filler runs that are too short to
# form shingles of their own; shingles crossing the filler/slice boundary
# mix filler with that document's slice, so they stay unique per pair.
_D8_CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, lower(text) AS text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             'zq yq xq ' ||
             array_to_string((string_split(lower(text), ' '))[4:15], ' ')
             || ' wq vq uq'
      FROM documents WHERE doc_id % 10 = 0)
"""


@query(
    "d8_duplicated_spans",
    oracle=f"""
    WITH {_D8_CORPUS_SQL},
    words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM corpus
      WHERE len(string_split(text, ' ')) >= {_D8_K}),
    shingles AS (
      SELECT doc_id,
             unnest(generate_series(0, len(ws) - {_D8_K})) AS pos,
             ws
      FROM words),
    hashed AS (
      SELECT doc_id, pos,
             md5(array_to_string(ws[pos + 1:pos + {_D8_K}], ' ')) AS h
      FROM shingles),
    dup AS (
      SELECT h FROM hashed GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
    hits AS (SELECT s.doc_id, s.pos FROM hashed s JOIN dup USING (h)),
    brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos) <= {_D8_K}
                  THEN 0 ELSE 1 END AS new_island
      FROM hits),
    isl AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS island
      FROM brk),
    spans AS (
      SELECT doc_id, island,
             MAX(pos) - MIN(pos) + {_D8_K} AS span_words
      FROM isl GROUP BY doc_id, island)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_words) AS BIGINT) AS dup_words,
           CAST(MAX(span_words) AS BIGINT) AS max_span
    FROM spans GROUP BY doc_id
    """,
)
def d8_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated-span extraction — the substring-dedup shape from
    the published exact-dedup literature (suffix-array ExactSubstr),
    re-expressed shuffle-bounded: sliding 5-word shingles with their
    word offset, cross-document shingles flagged by MIN(doc)<>MAX(doc)
    OVER (PARTITION BY xxhash64(shingle)) — an order-independent winner
    test, cheaper than COUNT(DISTINCT) — then a per-document
    gaps-and-islands merge of overlapping/adjacent duplicated offsets
    into maximal spans. Output: per-doc span count, duplicated word
    volume, and longest span.

    100 TB design: nothing pairwise and nothing corpus-global — the
    plan is exactly TWO full shuffles of the skinny (doc, pos, h)
    relation: the digest-partitioned dup-flag window and the
    doc-partitioned islands exchange (shared by both islands windows
    AND both island aggregates — (doc_id, island) keys are clustered by
    the doc_id partitioning). The window form beat the
    groupBy+join-back alternative 47.5s vs 107.2s at 16M docs in a
    same-session A/B (see duplicated_spans_df): past the broadcast
    threshold the join re-shuffles the whole shingle relation a third
    time. A corpus-wide stop-shingle inflates only its own hash
    partition group (linear in occurrences), never a cross product;
    the islands window partitions BY DOCUMENT, so its sort is bounded
    by document length regardless of corpus size.
    """
    return duplicated_spans_df(_d8_planted(spark, sf_dir))


def duplicated_spans_df(
    corpus: DataFrame, k: int = _D8_K, dup_flag: str = "window"
) -> DataFrame:
    """d8's span-extraction pipeline over any (doc_id, text) frame (the
    scale probe and the handcrafted-corpus tests drive it directly).

    The shingle digest is ``xxhash64`` (8-byte long, JVM-native) while
    the DuckDB oracle digests with md5 — a deliberate divergence, unlike
    d1/d2 where md5 IS the shared signature math: here the digest never
    leaves the query, so the engines only need the same COLLISION
    behavior, and at 64 bits the expected colliding pair count is ~2e-11
    at verification scale (44k shingles) and ~0.003 even at the probe's
    320M — versus 4x the shuffle bytes for md5-hex keys.

    dup_flag picks how cross-document shingles are flagged:

    - ``"window"`` (default): min/max(doc_id) OVER (PARTITION BY h) on
      the shingle relation itself — ONE full shuffle of the 20n-row
      relation, total plan = 2 exchanges (h, then doc_id). The
      production choice — same-session A/B on the probe corpus
      (24-word docs, 1/16 planted spans): window 17.5s vs join 23.1s
      at 4M docs, window 47.5s vs join 107.2s at 16M — the join form
      goes superlinear once the dup set outgrows the broadcast
      threshold and the full shingle relation re-shuffles as SMJ
      probe, which is exactly the regime a production corpus lives
      in. (The original md5-hex + join form measured 42.9s / 271.1s
      on the same cells: the digest narrowing alone is ~2x.)
    - ``"join"``: partial-combining min/max groupBy(h) + equi-join back.
      Wins only while the dup set stays broadcast-small AND the shingle
      relation is expensive to window-sort — kept for the A/B receipt.
    """
    words = corpus.select("doc_id", F.split("text", " ").alias("ws")).where(
        F.size("ws") >= k
    )
    hashed = words.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("ws") - k)).alias("pos"),
        "ws",
    ).select(
        "doc_id",
        "pos",
        F.xxhash64(F.expr(f"array_join(slice(ws, pos + 1, {k}), ' ')")).alias("h"),
    )
    if dup_flag == "window":
        from pyspark.sql import Window

        by_h = Window.partitionBy("h")
        hits = (
            hashed.select(
                "doc_id",
                "pos",
                F.min("doc_id").over(by_h).alias("lo"),
                F.max("doc_id").over(by_h).alias("hi"),
            )
            .where(F.col("lo") != F.col("hi"))
            .select("doc_id", "pos")
        )
    else:
        dup = (
            hashed.groupBy("h")
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .select("h")
        )
        hits = hashed.join(dup, "h").select("doc_id", "pos")
    return merge_spans(hits, k)


def merge_spans(hits: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated shingle offsets into maximal
    spans: each hit covers words [pos, pos+k-1]; hits whose intervals
    overlap or touch (gap <= k) fuse into one island, and each island
    reports its covered word span. Pure window algebra over (doc_id, pos)
    — property-tested against a reference interval merge in
    tests/test_properties.py. Both windows and both aggregates share the
    ONE doc-partitioned exchange (keys (doc_id, island) are clustered by
    the doc_id partitioning, so the island aggregates are exchange-free)."""
    from pyspark.sql import Window

    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = hits.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(by_doc) <= k, 0)
        .otherwise(1)
        .alias("new_island"),
    )
    isl = brk.select(
        "doc_id",
        "pos",
        F.sum("new_island")
        .over(by_doc.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") - F.min("pos") + k).alias("span_words")
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_words").cast("long").alias("dup_words"),
        F.max("span_words").cast("long").alias("max_span"),
    )


def _d8_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d8 corpus: originals plus a 12-word middle slice of every 10th
    document wrapped in sub-shingle-width filler (see _D8_CORPUS_SQL).

    The +1,000,000 planted-id offset is load-bearing for span-level
    keep-first semantics (the d9 winner test is ``lo < doc_id``, so
    planted copies must sort ABOVE every natural id); a corpus with
    doc_id >= 1e6 would silently alias planted and natural ids. The
    executor-side assert_true guard turns that silent corruption into a
    loud failure without adding a driver job — it rides the base scan
    and raises on the first violating row."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.lower("text").alias("text")).where(
        F.assert_true(
            F.col("doc_id") < 1000000,
            F.lit("d8/d9 planted-id offset (1e6) aliases a natural doc_id"),
        ).isNull()
    )
    slice_txt = F.array_join(F.slice(F.split(F.lower("text"), " "), 4, 12), " ")
    planted = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("zq yq xq "), slice_txt, F.lit(" wq vq uq")).alias("text"),
    )
    return base.unionAll(planted)


# ---------------------------------------------------------------------------
# d9: duplicated-span EXCISION (the removal half of ExactSubstr dedup)
# ---------------------------------------------------------------------------


@query(
    "d9_span_excise",
    oracle=f"""
    WITH {_D8_CORPUS_SQL},
    words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM corpus
      WHERE len(string_split(text, ' ')) >= {_D8_K}),
    sh AS (
      SELECT doc_id,
             unnest(generate_series(0, len(ws) - {_D8_K})) AS pos,
             ws
      FROM words),
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
    cov0 AS (
      SELECT doc_id, pos + unnest(generate_series(0, {_D8_K - 1})) AS wpos
      FROM losing),
    covered AS (SELECT DISTINCT doc_id, wpos FROM cov0),
    indexed AS (
      SELECT doc_id, unnest(generate_series(1, len(ws))) AS idx, ws
      FROM words),
    tokens AS (
      SELECT doc_id, idx, ws[idx] AS word FROM indexed),
    kept AS (
      SELECT t.doc_id, t.idx, t.word
      FROM tokens t LEFT JOIN covered c
        ON c.doc_id = t.doc_id AND c.wpos = t.idx - 1
      WHERE c.doc_id IS NULL),
    dropped AS (
      SELECT doc_id, COUNT(*) AS n_dropped FROM covered GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(w.ws) AS BIGINT) AS n_words,
           CAST(d.n_dropped AS BIGINT) AS n_dropped,
           COALESCE(
             (SELECT string_agg(k.word, ' ' ORDER BY k.idx)
              FROM kept k WHERE k.doc_id = d.doc_id), '') AS kept_text
    FROM dropped d JOIN words w ON w.doc_id = d.doc_id
    """,
)
def d9_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact-substring dedup: where d8 REPORTS
    maximal repeated spans, d9 CUTS them — every word covered by a
    shingle whose first (lowest-doc_id) occurrence lives in another
    document is excised, and the survivors reassemble in order. The
    winning document keeps its text intact, so exactly one copy of
    every repeated passage survives corpus-wide — the keep-first
    discipline of d1/d7 applied at SPAN granularity (the published
    ExactSubstr cut). Output: affected docs only, with word counts and
    the excised text.

    100 TB design: same bounded skeleton as d8 — the dup-flag window
    shuffles the skinny (doc, pos, h) relation once on the digest; the
    covered-word explode is k rows per LOSING occurrence (bounded by
    duplicated volume, not corpus size); excision itself is one join
    delivering each affected document its covered-offset set plus an
    in-row indexed filter — no word-level shuffle and no reassembly
    aggregate at all (see span_excise_df for the measured A/B against
    the tokenize/anti-join/collect_list form).
    """
    return span_excise_df(_d8_planted(spark, sf_dir))


def span_excise_df(corpus: DataFrame, k: int = _D8_K) -> DataFrame:
    """d9's excision pipeline over any (doc_id, text) frame (the scale
    probe drives it directly, like duplicated_spans_df for d8).

    The shingle digest is ``xxhash64`` (8-byte long) against the
    oracle's md5 — the same deliberate divergence duplicated_spans_df
    documents: the digest never leaves the query, so the engines only
    need matching COLLISION behavior, and d8's own A/B measured the
    md5-hex -> xxhash64 narrowing alone at ~2x on the dominant dup-flag
    shuffle (42.9s -> 17.5s at the probe's 4M-doc cell). d9 shipped r9
    with md5 (an oversight its sibling had already measured away);
    narrowed r10, re-verified via _IMPL_CHANGED."""
    words = corpus.select("doc_id", F.split("text", " ").alias("ws")).where(
        F.size("ws") >= k
    )
    cov_sets = covered_word_sets(words, k)
    return words.join(cov_sets, "doc_id").select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size("cov").cast("long").alias("n_dropped"),
        F.array_join(
            F.filter(
                F.col("ws"), lambda w, i: ~F.array_contains(F.col("cov"), i)
            ),
            " ",
        ).alias("kept_text"),
    )


def covered_word_sets(words: DataFrame, k: int = _D8_K) -> DataFrame:
    """(doc_id, cov: array<int>) — per-LOSING-document sets of word
    offsets covered by a cross-document repeated k-shingle whose first
    (lowest-doc_id) occurrence lives in another document. The shared
    excision core of d9 and the composed curation cut (c14): join the
    result back to the corpus and drop ``cov`` offsets in-row.

    Shape: shingle explode -> ONE digest-partitioned dup-flag window
    over the skinny (doc, pos, h) relation -> covered-word explode
    (k rows per losing occurrence, bounded by duplicated volume, not
    corpus size) -> one doc-partitioned set aggregate. Delivering SETS
    plus an in-row indexed filter replaced the word-level
    tokenize/anti-join/collect_list form: 26.2s vs 39.3s at the probe's
    4M-doc cell, 99.7s vs 345s at 16M — excision is a per-document
    decision, and the only distributed work it needs is handing each
    affected doc its covered offsets. The set is bounded by document
    length; the in-row filter is O(len^2) worst case on a bounded len —
    free next to a shuffle.

    Input safety (r10 ADVICE): docs shorter than k words are filtered
    HERE, not assumed away — for them ``sequence(0, size-k)`` would go
    descending and ``slice(ws, pos+1, k)`` would hit a non-positive
    start, which throws under ANSI mode. The filter is a no-op for
    already-filtered inputs (both d9 and c14 pre-filtered before this
    was the shared export), and such docs can lose no shingle anyway."""
    hashed = words.where(F.size("ws") >= k).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("ws") - k)).alias("pos"),
        "ws",
    ).select(
        "doc_id",
        "pos",
        F.xxhash64(F.expr(f"array_join(slice(ws, pos + 1, {k}), ' ')")).alias("h"),
    )

    from pyspark.sql import Window

    by_h = Window.partitionBy("h")
    losing = memo.materialize(
        # The losing relation feeds both the covered-word explode and,
        # through it, every downstream consumer; without the checkpoint
        # each consumer re-executes the full 20n-row digest-window
        # subtree — measured ~4x the d8 window cost at the probe's 4M
        # cell. localCheckpoint runs it once; the materialized frame is
        # skinny (doc, pos) and bounded by DUPLICATED volume, not corpus
        # size. Same lineage-truncation trade as g3's support pairs
        # (operators/graph.py:405).
        hashed.select(
            "doc_id",
            "pos",
            F.min("doc_id").over(by_h).alias("lo"),
            F.max("doc_id").over(by_h).alias("hi"),
        )
        .where((F.col("lo") != F.col("hi")) & (F.col("lo") < F.col("doc_id")))
        .select("doc_id", "pos"),
        eager=True,
    )
    return (
        losing.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias(
                "wpos"
            ),
        )
        .groupBy("doc_id")
        # collect_set, not array_distinct(collect_list): adjacent losing
        # shingles overlap k-1 of their k covered words, and the set
        # aggregate dedups MAP-SIDE in the partial ObjectHashAggregate,
        # so the doc_id exchange ships each covered offset once instead
        # of ~k times. Consumers only membership-test cov, so set
        # (unordered) semantics are exactly what is needed.
        .agg(F.collect_set("wpos").alias("cov"))
    )


# ---------------------------------------------------------------------------
# d10: incremental dedup — probe a new batch against an indexed corpus
# ---------------------------------------------------------------------------

# The production shape d1-d9 don't cover: a continuously-ingesting
# pipeline never re-dedups the corpus — it indexes it ONCE (minhash
# signatures + band buckets at rest) and probes each incoming batch
# against that index. Work per batch is proportional to batch size +
# band-bucket collisions, never corpus pairs, and the corpus index
# never reshuffles.


def _materialize_concurrently(
    sources: list[DataFrame],
) -> list[tuple[DataFrame, DataFrame, DataFrame]]:
    """_minhash_frames_materialized over several INDEPENDENT (id, text)
    relations, submitted from driver threads so their checkpoint jobs
    overlap instead of running back-to-back (guide §2.6: actions are
    only sequential because the driver calls them sequentially; each
    relation's frames are 2 small jobs, and the scheduler back-fills
    the tail of one with the next's tasks)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if len(sources) == 1:
        return [_minhash_frames_materialized(sources[0])]
    with ThreadPoolExecutor(max_workers=len(sources)) as pool:
        return list(
            pool.map(
                inheritable_thread_target(_minhash_frames_materialized), sources
            )
        )


# Batch plants, identical in both engines: every 7th doc arrives again
# with a suffix (a near-dup the probe MUST match to its source) and
# every 11th doc arrives word-REVERSED (same vocabulary, disjoint
# 3-shingle set — a novel doc the probe must NOT match; any 7*11th doc
# appears once in each role).
_D10_BATCH_SQL = """
    idx AS (SELECT doc_id AS id, lower(text) AS text FROM documents),
    batch AS (
      SELECT doc_id + 1000000 AS id,
             lower(text) || ' probe batch suffix' AS text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS id,
             array_to_string(
                 list_reverse(string_split_regex(lower(text), '\\s+')), ' ')
      FROM documents WHERE doc_id % 11 = 0)
"""


# The probe pipeline's oracle tail (candidates -> shingle-verified
# matches -> per-batch accounting) — shared verbatim by d10 (static
# index) and d11 (grown index): the two queries differ only in what the
# idx/batch CTEs hold.
_PROBE_ORACLE_TAIL = f"""
    cand AS (
      SELECT DISTINCT b.id AS batch_id, i.id AS idx_id
      FROM bbands b JOIN ibands i ON i.band = b.band AND i.bh = b.bh),
    common AS (
      SELECT c.batch_id, c.idx_id, COUNT(*) AS n_common
      FROM cand c
        JOIN bhashed sb ON sb.id = c.batch_id
        JOIN ihashed si ON si.id = c.idx_id AND si.h = sb.h
      GROUP BY c.batch_id, c.idx_id),
    verified AS (
      SELECT c.batch_id, c.idx_id,
             CAST(n_common AS DOUBLE)
               / (nb.n_sh + ni.n_sh - n_common) AS jac
      FROM common c
        JOIN bsigs nb ON nb.id = c.batch_id
        JOIN isigs ni ON ni.id = c.idx_id
      WHERE CAST(n_common AS DOUBLE) / (nb.n_sh + ni.n_sh - n_common)
            >= {_JACCARD_THRESHOLD}),
    per_batch AS (
      SELECT c.batch_id,
             COUNT(DISTINCT c.idx_id) AS n_cand,
             COUNT(DISTINCT v.idx_id) AS n_match,
             MIN(v.idx_id) AS match_id_min,
             ROUND(MAX(v.jac), 6) AS best_jaccard
      FROM cand c
        LEFT JOIN verified v
          ON v.batch_id = c.batch_id AND v.idx_id = c.idx_id
      GROUP BY c.batch_id)
    SELECT b.id AS batch_id,
           CAST(COALESCE(p.n_cand, 0) AS BIGINT) AS n_cand,
           CAST(COALESCE(p.n_match, 0) AS BIGINT) AS n_match,
           p.match_id_min,
           p.best_jaccard,
           COALESCE(p.n_match, 0) = 0 AS is_novel
    FROM (SELECT id FROM batch) b
    LEFT JOIN per_batch p ON p.batch_id = b.id
"""


@query(
    "d10_incremental_lsh_probe",
    oracle=f"""
    WITH {_D10_BATCH_SQL},
    {_minhash_ctes_sql('idx', 'i')},
    {_minhash_ctes_sql('batch', 'b')},
    {_PROBE_ORACLE_TAIL}
    """,
)
def d10_incremental_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: probe an arriving batch against the indexed
    corpus without re-deduping the corpus (the continuous-ingestion
    production shape; d2 is the one-shot corpus-wide analog). Every
    batch document reports its band-bucket candidate count, verified
    matches at the d2 jaccard threshold, best match, and novelty.

    100 TB design: the corpus-side relations (shingle-hash sets, band
    buckets) are the AT-REST index — computed once, bucketed by
    (band, bh), never reshuffled per batch (here they are rebuilt
    in-plan because the bench corpus is small; the plan shape past
    them is the production shape). The batch side is small by nature,
    so every probe join BROADCASTS it: candidates = index bands
    broadcast-joined to batch bands, verification = the skinny
    (id, shingle-hash) batch relation broadcast against the index's
    — plan-gated in test_dedup_probe.py (no SortMergeJoin, no
    shuffle of an index-side relation keyed on batch columns). Work
    per batch ~ |batch| + bucket collisions, independent of |corpus|
    pairs."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.lower("text").alias("text")).where(
        F.assert_true(
            F.col("doc_id") < 1000000,
            F.lit("d10 planted-id offsets (1e6/2e6) alias a natural doc_id"),
        ).isNull()
    )
    idx = base.select(F.col("doc_id").alias("id"), "text")
    near = base.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.concat("text", F.lit(" probe batch suffix")).alias("text"),
    )
    novel = base.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("id"),
        F.array_join(F.reverse(F.split("text", r"\s+")), " ").alias("text"),
    )
    batch = near.unionAll(novel)
    return incremental_probe_df(idx, batch)


def incremental_probe_df(idx: DataFrame, batch: DataFrame) -> DataFrame:
    """d10's probe pipeline over any (id, text) index/batch frames (the
    scale probe drives it directly, like span_excise_df for d9). Index
    relations materialized once per call (see
    _minhash_frames_materialized — the in-plan analog of the at-rest
    index the production loop reads from parquet), index and batch
    sides overlapped from driver threads."""
    iframes, bframes = _materialize_concurrently([idx, batch])
    return probe_with_index(*iframes, batch, bframes=bframes)


def probe_candidates(
    ibands: DataFrame, bbands: DataFrame, exclude_self: bool = False
) -> DataFrame:
    """The probe's candidate-pair join alone: index band buckets
    broadcast-joined to the batch's, distinct (batch_id, idx_id). Split
    out so the at-rest path (streaming/dedup.probe_index_at_rest) can
    materialize candidates FIRST and partition-prune the hashed/sigs
    scans to the directories the candidate ids actually occupy."""
    cand = (
        ibands.alias("i")
        .join(
            F.broadcast(bbands.alias("b")),
            (F.col("i.band") == F.col("b.band")) & (F.col("i.bh") == F.col("b.bh")),
        )
        .select(F.col("b.id").alias("batch_id"), F.col("i.id").alias("idx_id"))
        .distinct()
    )
    if exclude_self:
        cand = cand.where(F.col("idx_id") != F.col("batch_id"))
    return cand


def probe_with_index(
    ihashed: DataFrame,
    isigs: DataFrame,
    ibands: DataFrame,
    batch: DataFrame,
    exclude_self: bool = False,
    cand: DataFrame | None = None,
    bframes: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The probe half alone, over PREBUILT index relations — the
    at-rest entry point: streaming/dedup.py builds (hashed, sigs,
    bands) once as parquet and probes every micro-batch through here
    without recomputing the corpus side.

    ``exclude_self`` drops index entries whose id equals the probing
    doc's own id — required once accepted novels are appended BACK to
    the index (the grow-index loop): a redelivered batch must not match
    a document against its own earlier acceptance, or replay would flip
    its decision from novel to dup.

    ``cand``/``bframes`` let the at-rest path pass a MATERIALIZED
    candidate frame (with exclude_self already applied) and the batch's
    minhash frames, so candidates execute once, the id_part pruning
    list can be collected from them, and the plan below reuses rather
    than recomputes them. The bframes DEFAULT is the LAZY in-plan form
    (r13 ADVICE): a materialized default would call fan_out's df.rdd —
    which throws on a streaming DataFrame — and pin one localCheckpoint
    per call in looping callers that never release them (the
    tools/scale_probe grow loops). Callers that want the materialized
    batch side (d10/d11, the at-rest probe) pass bframes explicitly.

    Verification is ONE exchange: three row sets keyed on batch_id are
    unioned and hash-partitioned by it once, and both aggregations
    below (per pair, then per batch doc) run on that partitioning.
    The sets, tagged by ``_k``:

    0. the batch ids, one row per batch row (a repeated id keeps each
       of its rows in the output);
    1. the candidate pairs, each with both shingle-set sizes from one
       broadcast left join: the index signatures joined to the
       broadcast candidates, then to the broadcast batch sizes, so no
       index-side relation is broadcast whole or shuffled on batch
       keys;
    2. the shingle hits: the index shingle relation joined to the same
       broadcast candidates FIRST (d2's candidate-first shape, so the
       h-join never builds the full inverted-index intersection), then
       to the broadcast batch shingles.

    Grouping by (batch_id, idx_id) makes every pair distinct, so the
    per-doc counts are plain counts.
    A candidate pair that shares no shingle has n_common 0 and never
    verifies (a band-hash collision counts in n_cand only)."""
    bhashed, bsigs, bbands = (
        bframes if bframes is not None else _minhash_frames(batch)
    )
    if cand is None:
        cand = probe_candidates(ibands, bbands, exclude_self)
    hits = (
        ihashed.alias("si")
        .join(F.broadcast(cand), F.col("si.id") == F.col("idx_id"))
        .join(
            F.broadcast(bhashed.alias("sb")),
            (F.col("sb.id") == F.col("batch_id"))
            & (F.col("sb.h") == F.col("si.h")),
        )
        .select("batch_id", "idx_id")
    )
    sizes = (
        isigs.join(F.broadcast(cand), F.col("id") == F.col("idx_id"))
        .select("batch_id", "idx_id", F.col("n_sh").alias("i_nsh"))
        .join(
            F.broadcast(
                bsigs.select(F.col("id").alias("batch_id"), F.col("n_sh").alias("b_nsh"))
            ),
            "batch_id",
        )
    )
    tagged = (
        batch.select(
            F.col("id").alias("batch_id"),
            F.lit(None).cast("long").alias("idx_id"),
            F.lit(0).alias("_k"),
        )
        .unionByName(
            cand.join(F.broadcast(sizes), ["batch_id", "idx_id"], "left").withColumn(
                "_k", F.lit(1)
            ),
            allowMissingColumns=True,
        )
        .unionByName(hits.withColumn("_k", F.lit(2)), allowMissingColumns=True)
        .repartition("batch_id")
    )

    def n_of(k: int):
        return F.count(F.when(F.col("_k") == k, 1))

    per_pair = tagged.groupBy("batch_id", "idx_id").agg(
        n_of(0).alias("n_rows"),
        (n_of(1) > 0).alias("is_cand"),
        n_of(2).alias("n_common"),
        F.max("b_nsh").alias("b_nsh"),
        F.max("i_nsh").alias("i_nsh"),
    )
    jac = F.when(
        F.col("n_common") > 0,
        F.col("n_common").cast("double")
        / (F.col("b_nsh") + F.col("i_nsh") - F.col("n_common")),
    )
    matched = F.col("is_cand") & F.coalesce(jac >= _JACCARD_THRESHOLD, F.lit(False))
    per_batch = per_pair.groupBy("batch_id").agg(
        F.sum("n_rows").alias("n_rows"),
        F.count(F.when(F.col("is_cand"), 1)).alias("n_cand"),
        F.count(F.when(matched, 1)).alias("n_match"),
        F.min(F.when(matched, F.col("idx_id"))).alias("match_id_min"),
        F.round(F.max(F.when(matched, jac)), 6).alias("best_jaccard"),
    )
    return per_batch.select(
        "batch_id",
        "n_cand",
        "n_match",
        "match_id_min",
        "best_jaccard",
        (F.col("n_match") == 0).alias("is_novel"),
        F.explode(F.array_repeat(F.lit(0), F.col("n_rows").cast("int"))).alias("_r"),
    ).drop("_r")


# ---------------------------------------------------------------------------
# d11: probe against a GROWN index — the grow-index loop's decision
# semantics as a driver-verifiable batch query
# ---------------------------------------------------------------------------

# d10 certifies the static-index probe; the streaming grow loop
# (streaming/dedup.py) additionally claims that an ACCEPTED novel joins
# the index and changes later batches' decisions. That claim was
# pytest-only (test_streaming_probe.py drives the loop end-to-end);
# d11 makes it oracle-checked: the index relations are the corpus's
# UNIONED with those of an earlier batch's accepted novels (exactly how
# grow_index_append grows them — per-doc minhash makes relation-level
# union equal corpus-level reindexing, which is what the DuckDB oracle
# computes), and the arriving batch holds near-dups OF THE GROWN DOCS
# (must match ids only a grown index contains) plus fresh reversed docs
# (must stay novel against corpus AND grown docs alike). Probed with
# the loop's own exclude_self predicate.

_D11_CORPUS_SQL = """
    idx AS (
      SELECT doc_id AS id, lower(text) AS text FROM documents
      UNION ALL
      SELECT doc_id + 2000000,
             array_to_string(
                 list_reverse(string_split_regex(lower(text), '\\s+')), ' ')
      FROM documents WHERE doc_id % 11 = 0),
    batch AS (
      SELECT doc_id + 3000000 AS id,
             array_to_string(
                 list_reverse(string_split_regex(lower(text), '\\s+')), ' ')
               || ' probe batch suffix' AS text
      FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id + 4000000,
             array_to_string(
                 list_reverse(string_split_regex(lower(text), '\\s+')), ' ')
      FROM documents WHERE doc_id % 13 = 0 AND doc_id % 11 <> 0)
"""


@query(
    "d11_grown_index_probe",
    oracle=f"""
    WITH {_D11_CORPUS_SQL},
    {_minhash_ctes_sql('idx', 'i')},
    {_minhash_ctes_sql('batch', 'b')},
    {_PROBE_ORACLE_TAIL}
    """,
)
def d11_grown_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grow-index loop's decision semantics, oracle-checked (see
    the module note above): corpus index relations UNIONED with an
    earlier batch's accepted novels (ids +2e6, word-reversed — d10's
    planted novel set, now stored), probed by near-dups of those grown
    docs (+3e6, suffix) and fresh reversed docs (+4e6, %13-not-%11).
    A near-dup-of-grown can only match ids >= 2e6 — evidence the grown
    relations participate — and the fresh docs exercise the novel path
    against the grown index.

    100 TB design: identical to d10's probe plan (broadcast batch side,
    no index shuffle on batch keys — the same plan gate applies,
    test_dedup_probe.py); the index side is two unioned at-rest
    relation sets, exactly grow_index_append's on-disk layout.
    SCALE_PROBE.md r12's accretion cells are this query's scale
    receipts: they probe a 4M-doc index grown by appended batches with
    exclude_self=True at 165-2,660 files."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.lower("text").alias("text")).where(
        F.assert_true(
            F.col("doc_id") < 1000000,
            F.lit("d11 planted-id offsets (2e6..4e6) alias a natural doc_id"),
        ).isNull()
    )
    reversed_text = F.array_join(
        F.reverse(F.split("text", r"\s+")), " "
    )
    idx0 = base.select(F.col("doc_id").alias("id"), "text")
    grown = base.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("id"), reversed_text.alias("text")
    )
    near_of_grown = grown.select(
        (F.col("id") + 1000000).alias("id"),
        F.concat("text", F.lit(" probe batch suffix")).alias("text"),
    )
    fresh = base.where(
        (F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 11 != 0)
    ).select(
        (F.col("doc_id") + 4000000).alias("id"), reversed_text.alias("text")
    )
    batch = near_of_grown.unionAll(fresh)
    (ih0, is0, ib0), (ihg, isg, ibg), bframes = _materialize_concurrently(
        [idx0, grown, batch]
    )
    return probe_with_index(
        ih0.unionAll(ihg),
        is0.unionAll(isg),
        ib0.unionAll(ibg),
        batch,
        exclude_self=True,
        bframes=bframes,
    )
