"""Product-quantization (PQ) ANN over the `embeddings` table.

sim5: PQ-compress every corpus vector to M=32 sub-space codes (4 bits
each: K=16 centroids per 2-dim sub-space — 16 bytes per vector vs 256
for the raw floats), answer queries with asymmetric distance computation
(ADC: the query materializes an M×K table of sub-distances once and each
corpus vector's approximate distance is the sum of M table lookups
selected by its codes), then exact-re-rank the ADC shortlist against the
raw vectors. This is the third ANN family in the registry next to
sign-LSH buckets (sim2) and IVF cells (sim3) — the one that attacks
*storage and scan bandwidth* rather than candidate count. Measured on
the sf0.01 corpus: ADC-only recall@3 vs exact L2 is 0.53; after the
50-wide exact re-rank stage it is 1.0 (tests/test_cogroup_approx.py).

Codebooks are deterministic plan-time literals (same device as the LSH
hyperplanes in functions/lsh.py): a 4×4 grid per 2-dim sub-space at the
quartile points of the embedding component distribution (~N(0, 0.125)),
jittered per (sub-space, centroid, dim) by a stable hash so the M
codebooks are genuinely distinct, every component rounded to 3 decimals
so the SQL literal text is short and parses to the identical double in
Spark and DuckDB. Production would train them with k-means — the
registry proves that pattern end-to-end in `sim4_ivf_kmeans_ann`
(unrolled Lloyd steps); fixed codebooks keep sim5's *serving* path
oracle-checkable.

Cross-engine exactness (driver hash gate): sub-distances are two-term
literal arithmetic in DOUBLE, rounded to 6 decimals before the argmin
(first-minimum index, ties to the lowest code) and before the ADC sum
(32 left-to-right additions of bit-identical doubles); the re-rank
distance is the sim1-style 64-term fold, rounded to 6; every ranking
tie-breaks on neighbor_id.

At 100 TB: the codes projection is computed once (here inline; in
production persisted as its own 16-byte column) and the ADC pass is a
column-pruned map over codes plus a per-query top-SHORT — no shuffle
until the shortlist, which is ~50 rows/query. The re-rank joins the tiny
shortlist (broadcast) back to raw vectors, touching full embeddings for
only SHORT rows per query. Scan bandwidth drops 16×; the shortlist
width is the recall/IO knob.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import table
from ..functions.lsh import sql_double
from ..operators.registry import query

M_SUB = 32      # sub-spaces
K_CENT = 16     # centroids per sub-space (4-bit codes)
D_SUB = 2       # dims per sub-space (M_SUB * D_SUB = 64 = embedding dim)
_SHORTLIST = 50
_TOP_K = 3
_N_QUERIES = 5  # vec_id < 5 are the query set (sim1/sim2 convention)

_GRID = (-0.144, -0.040, 0.040, 0.144)  # ~N(0,0.125) quartile points


def _jitter(m: int, k: int, d: int) -> float:
    h = int.from_bytes(hashlib.md5(f"pqjit:{m}:{k}:{d}".encode()).digest()[:4], "big")
    return ((h % 41) - 20) / 1000.0


def pq_codebooks() -> list[list[tuple[float, float]]]:
    """[m][k] = (c0, c1): per-sub-space 4×4 grid + deterministic jitter,
    all components exactly 3 decimals (short, engine-identical literals)."""
    return [
        [
            (
                round(_GRID[k // 4] + _jitter(m, k, 0), 3),
                round(_GRID[k % 4] + _jitter(m, k, 1), 3),
            )
            for k in range(K_CENT)
        ]
        for m in range(M_SUB)
    ]


def _dm_col(m: int, cb_m: list[tuple[float, float]]) -> F.Column:
    """Per-sub-space array of the K rounded sub-distances, as ONE
    transform over a literal struct-array codebook. A flat F.array of
    K separate two-term expressions computes the same values but makes
    the plan tree 16× bigger (512 expressions corpus-wide → a ~3 MiB
    codegen'd task binary and ~15 s of compile overhead at sf0.01);
    the transform form keeps the arithmetic — and its left-to-right
    order, matching the expanded SQL — inside one lambda.

    The whole column is assembled as ONE parsed SQL fragment: the
    former Column-API form (16 structs × 2 lits + a Python lambda per
    sub-space) cost ~6.9 s of pure py4j construction for the 32-column
    projection at any scale (r14 phase profile); one expr string per
    column parses in ~10 ms total. repr(float) of the 3-decimal
    codebook components round-trips exactly, so the parsed literals,
    the expression tree, and therefore the results are bit-identical."""
    pairs = ",".join(
        f"named_struct('a',{sql_double(c0)},'b',{sql_double(c1)})"
        for c0, c1 in cb_m
    )
    v1 = f"element_at(v, {m * D_SUB + 1})"
    v2 = f"element_at(v, {m * D_SUB + 2})"
    return F.expr(
        f"transform(array({pairs}), x -> round(({v1} - x.a) * ({v1} - x.a)"
        f" + ({v2} - x.b) * ({v2} - x.b), 6))"
    ).alias(f"dm{m}")


def _dist_arrays(vecs: DataFrame) -> DataFrame:
    """Append dm0..dm{M-1}: per-sub-space arrays of the K rounded
    sub-distances. Corpus rows argmin them into codes; query rows keep
    them whole as the ADC lookup table."""
    cbs = pq_codebooks()
    return vecs.select("*", *[_dm_col(m, cbs[m]) for m in range(M_SUB)])


def _exact_d2(x: str, y: str) -> F.Column:
    """sim1-style 64-term sequential fold (matches DuckDB list_sum)."""
    return F.round(
        F.aggregate(
            F.zip_with(F.col(x), F.col(y), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ),
        6,
    )


def _sub_d2_sql(m: int, c: tuple[float, float]) -> str:
    i1, i2 = m * D_SUB + 1, m * D_SUB + 2
    a = f"(v[{i1}] - {c[0]!r})"
    b = f"(v[{i2}] - {c[1]!r})"
    return f"ROUND({a} * {a} + {b} * {b}, 6)"


def _oracle() -> str:
    cbs = pq_codebooks()
    dm_cols = ",\n           ".join(
        "[" + ", ".join(_sub_d2_sql(m, cbs[m][k]) for k in range(K_CENT)) + f"] AS dm{m}"
        for m in range(M_SUB)
    )
    code_cols = ", ".join(
        f"list_position(dm{m}, list_min(dm{m})) AS c{m}" for m in range(M_SUB)
    )
    adc = " + ".join(f"q.dm{m}[c.c{m}]" for m in range(M_SUB))
    return f"""
    WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dists AS (
      SELECT vec_id, v,
           {dm_cols}
      FROM vecs),
    q AS (SELECT * FROM dists WHERE vec_id < {_N_QUERIES}),
    c AS (SELECT vec_id, {code_cols} FROM dists WHERE vec_id >= {_N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {adc} AS adc
      FROM q, c),
    short AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc, neighbor_id) AS srn
        FROM scored) s
      WHERE srn <= {_SHORTLIST}),
    rerank AS (
      SELECT short.query_id, short.neighbor_id,
             ROUND(list_sum(list_transform(range(1, 65),
                    i -> (qv.v[i] - cv.v[i]) * (qv.v[i] - cv.v[i]))), 6) AS d2
      FROM short
      JOIN vecs qv ON qv.vec_id = short.query_id
      JOIN vecs cv ON cv.vec_id = short.neighbor_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY d2, neighbor_id) AS rn
      FROM rerank)
    SELECT query_id, neighbor_id, d2, rn FROM ranked WHERE rn <= {_TOP_K}
    """


def pq_codes(dists: DataFrame) -> DataFrame:
    """Corpus code assignment: collapse each sub-distance array to its
    first-minimum index (ties to the lowest code, matching DuckDB
    list_position-of-list_min)."""
    return dists.select(
        "vec_id",
        *[
            F.array_position(F.col(f"dm{m}"), F.array_min(F.col(f"dm{m}"))).alias(f"c{m}")
            for m in range(M_SUB)
        ],
    )


def adc_serve(
    vecs: DataFrame,
    q: DataFrame,
    codes: DataFrame,
    n_queries: int,
    shortlist: int = _SHORTLIST,
) -> DataFrame:
    """The ADC serving path shared by sim5 and the scale probe: broadcast
    the query LUT rows against the codes, sum M table lookups, keep the
    top-`shortlist` per query, exact-re-rank the shortlist against the
    raw vectors. Returns (query_id, neighbor_id, d2) — callers rank.
    Living here (not copy-pasted into the probe) keeps the probe
    measuring the exact plan the registry query serves; the probe's
    persist() materialization boundary stays at its call site.
    """
    q = q.alias("q")
    c = codes.alias("c")
    adc = None
    for m in range(M_SUB):
        term = F.element_at(F.col(f"q.dm{m}"), F.col(f"c.c{m}").cast("int"))
        adc = term if adc is None else adc + term
    scored = F.broadcast(q).crossJoin(c).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        adc.alias("adc"),
    )
    sw = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    short = (
        scored.select("query_id", "neighbor_id", F.row_number().over(sw).alias("srn"))
        .where(F.col("srn") <= shortlist)
        .drop("srn")
    )
    qv = vecs.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    return (
        vecs.join(F.broadcast(short), vecs.vec_id == short.neighbor_id)
        .join(F.broadcast(qv), F.col("query_id") == F.col("qid"))
        .select("query_id", "neighbor_id", _exact_d2("qv", "v").alias("d2"))
    )


@query("sim5_pq_adc_ann", oracle=_oracle())
def sim5_pq_adc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: ADC shortlist over 4-bit codes, exact re-rank.

    Corpus rows collapse each sub-distance array to its first-minimum
    index (the code); query rows broadcast the arrays whole as the
    per-query LUT; the ADC join sums M=32 lookups; the top-SHORT per
    query is re-ranked with the exact 64-dim distance. All-JVM column
    expressions — codegen'd literal arithmetic and folds, no Python.
    """
    vecs = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # materialized once per call (r13): the q and codes branches each
    # embedded the full 32-column literal-codebook projection, so its
    # ~0.5 MiB of generated code compiled twice per invocation;
    # checkpointing computes (and compiles) it once — measured -12%
    # interleaved at sf0.01, results identical.
    dists = memo.materialize(_dist_arrays(vecs).drop("v"), eager=False)
    q = dists.where(F.col("vec_id") < _N_QUERIES)
    codes = pq_codes(dists.where(F.col("vec_id") >= _N_QUERIES))
    rerank = adc_serve(vecs, q, codes, _N_QUERIES)
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        rerank.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= _TOP_K)
    )
