"""IVF-style ANN: coarse quantization -> cluster-pruned exact search.

The scale path for similarity search beyond sign-LSH (similarity.py):
partition the corpus into Voronoi cells around coarse centroids, search
only the query's cell. At 100 TB the corpus is written PARTITIONED BY
cell id, so a query reads 1/n_cells of the data (partition pruning) —
this module expresses the same structure on the flat testdata table.

Centroids here are a deterministic subset of the vectors themselves
(vec_id < n_centroids) rather than k-means output, so the whole pipeline —
assignment, pruning, ranking — is oracle-checkable in DuckDB. Swapping in
`pyspark.ml.clustering.KMeans` centroids changes recall, not the plan
shape (see ml/benchmarks.py for the trained variant's building block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import table
from ..operators.registry import query

_N_CENTROIDS = 16
_N_QUERIES = 5
_TOP_K = 3

_DIST_SQL = (
    "list_sum(list_transform(range(1, len(v.v) + 1),"
    " i -> (v.v[i] - c.v[i]) * (v.v[i] - c.v[i])))"
)
_COS_SQL = (
    "list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * n.v[i]))"
    " / (SQRT(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])))"
    "    * SQRT(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * n.v[i]))))"
)


@query(
    "sim3_ivf_ann",
    oracle=f"""
    WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v FROM vecs WHERE vec_id < {_N_CENTROIDS}),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY ROUND({_DIST_SQL}, 9), c.cid) AS rn
        FROM vecs v, cents c) t
      WHERE rn = 1),
    q AS (SELECT vecs.vec_id, v, a.cid FROM vecs JOIN assigned a USING (vec_id)
          WHERE vecs.vec_id < {_N_QUERIES}),
    cand AS (SELECT vecs.vec_id, v, a.cid FROM vecs JOIN assigned a USING (vec_id)
             WHERE vecs.vec_id >= {_N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             ROUND({_COS_SQL}, 6) AS cosine
      FROM q JOIN cand n ON q.cid = n.cid),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rn FROM ranked WHERE rn <= {_TOP_K}
    """,
)
def sim3_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign every vector to its nearest coarse centroid
    (argmin over {_N_CENTROIDS} via window rank), then search only the
    query's cell. Assignment distance is rounded to 9 decimals before the
    argmin so the cell boundaries are engine-identical."""
    vecs = _vecs(spark, sf_dir)
    return _ivf_search(vecs, _subset_cents(vecs))


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _dot(x: str, y: str) -> F.Column:
    return F.aggregate(
        F.zip_with(F.col(x), F.col(y), lambda p, r: p * r),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def _ranked_cells(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Voronoi cell ranking: every (vector, centroid) pair ranked by
    9-decimal-rounded euclidean distance with cid tie-break. rn=1 is the
    owning cell; rn<=nprobe are a query's probe set."""
    dist = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.round(dist, 9).asc(), F.col("cid"))
    return vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", "cid", F.row_number().over(w_assign).alias("rn")
    )


def _ivf_search(
    vecs: DataFrame, cents: DataFrame,
    n_queries: int = _N_QUERIES, top_k: int = _TOP_K, nprobe: int = 1,
) -> DataFrame:
    """Shared IVF machinery: Voronoi assignment against ``cents``
    (cid, cv), then exact cosine top-k over the query's ``nprobe``
    nearest cells (candidates always live in exactly one cell, so
    multi-probe trades scanned-candidate count for recall — the standard
    IVF knob; well-balanced trained centroids need nprobe > 1)."""
    # The q side ranks only the query vectors: the window partitions by
    # vec_id, so ranking a pre-filtered vecs frame yields the identical
    # per-query cell ranking while the corpus-wide crossJoin+window (the
    # expensive subtree) is consumed exactly ONCE, by the candidate
    # side — previously both sides re-derived it (r14; guide §1.2).
    # No materialization needed: at scale the ranked relation is
    # O(corpus x k) and must never be checkpointed.
    q = (
        _ranked_cells(vecs.where(F.col("vec_id") < n_queries), cents)
        .where(F.col("rn") <= nprobe)
        .select("vec_id", "v", "cid")
        .alias("q")
    )
    cand = (
        _ranked_cells(vecs, cents)
        .where((F.col("rn") == 1) & (F.col("vec_id") >= n_queries))
        .select("vec_id", "v", "cid")
        .alias("n")
    )

    cos = _dot("q.v", "n.v") / (F.sqrt(_dot("q.v", "q.v")) * F.sqrt(_dot("n.v", "n.v")))
    scored = (
        F.broadcast(q)
        .join(cand, F.col("q.cid") == F.col("n.cid"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.select("*", F.row_number().over(w_rank).alias("rn")).where(
        F.col("rn") <= top_k
    )


def _subset_cents(vecs: DataFrame) -> DataFrame:
    return vecs.where(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )


def write_ivf_partitioned(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the corpus PARTITIONED BY IVF cell — the 100 TB
    layout this module's docstring promises. Each vector lands in its
    owning Voronoi cell's directory (`cid=<k>/`), so a search touches
    only `nprobe / n_cells` of the data via plain partition pruning —
    no index structure beyond the filesystem layout."""
    vecs = _vecs(spark, sf_dir)
    assigned = (
        _ranked_cells(vecs, _subset_cents(vecs))
        .where(F.col("rn") == 1)
        .select("vec_id", "v", "cid")
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(path)


def ivf_partitioned_search(
    spark: SparkSession, sf_dir: str, path: str,
    n_queries: int = _N_QUERIES, top_k: int = _TOP_K, nprobe: int = 1,
) -> DataFrame:
    """Cell-pruned search over the partitioned layout: compute the probe
    cells for each query (tiny broadcast work), then read ONLY those
    partitions of the corpus — `.where(cid isin probes)` reaches the
    scan as a partition filter, which is the entire point of the layout.
    Same results as the flat-table `_ivf_search`."""
    vecs = _vecs(spark, sf_dir)
    # collect the (tiny: n_queries x nprobe rows) probe set ONCE and
    # rebuild the broadcast side from the collected rows — re-executing
    # the q_cells plan in the join would re-run the embeddings scan and
    # the query-x-centroid ranking a second time
    q_rows = (
        _ranked_cells(vecs.where(F.col("vec_id") < n_queries), _subset_cents(vecs))
        .where(F.col("rn") <= nprobe)
        .select("vec_id", "v", "cid")
        .collect()
    )
    q_cells = spark.createDataFrame(
        q_rows, "vec_id long, v array<double>, cid long"
    ).alias("q")
    probed = sorted({r["cid"] for r in q_rows})
    cand = (
        spark.read.parquet(path)
        .where(F.col("cid").isin(probed) & (F.col("vec_id") >= n_queries))
        .alias("n")
    )
    cos = _dot("q.v", "n.v") / (F.sqrt(_dot("q.v", "q.v")) * F.sqrt(_dot("n.v", "n.v")))
    scored = (
        F.broadcast(q_cells)
        .join(cand, F.col("q.cid") == F.col("n.cid"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.select("*", F.row_number().over(w_rank).alias("rn")).where(
        F.col("rn") <= top_k
    )


def _normalized(vecs: DataFrame) -> DataFrame:
    """L2-normalize so euclidean cell assignment agrees with the cosine
    ranking metric (spherical IVF): argmin ||q-c|| == argmax cos(q,c) on
    the unit sphere. Cosine scores are scale-invariant, so ranking over
    normalized vectors equals ranking over the raw ones."""
    norm = F.sqrt(F.aggregate(
        F.transform(F.col("v"), lambda x: x * x), F.lit(0.0),
        lambda acc, x: acc + x,
    ))
    return vecs.select(
        "vec_id", F.transform(F.col("v"), lambda x: x / norm).alias("v")
    )


def kmeans_centroids(
    spark: SparkSession, sf_dir: str, k: int = _N_CENTROIDS, seed: int = 100,
) -> DataFrame:
    """Coarse centroids trained with pyspark.ml KMeans over L2-normalized
    vectors (spherical k-means, the production IVF path for a cosine
    metric). Iterative, so rows-only for the driver; recall vs the subset
    variant is asserted in tests."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = _normalized(_vecs(spark, sf_dir))
    # Materialize the training frame per invocation: KMeans.fit makes
    # one pass per Lloyd iteration, and an unmaterialized plan re-runs
    # the scan + normalization + vector conversion on every one of the
    # 10 iterations (guide §4.5/§5 — heavyweight input computed once).
    # Identical rows in, identical fixed-seed fit out.
    train = memo.materialize(
        vecs.select(array_to_vector(F.col("v")).alias("features")), eager=False
    )
    model = KMeans(k=k, seed=seed, maxIter=10).fit(train)
    memo.release(train)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(centers, "cid long, cv array<double>")


@query("sim4_ivf_kmeans_ann")  # iterative training -> rows-only check
def sim4_ivf_kmeans_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with trained spherical-k-means coarse centroids: same
    assignment / cell-pruned search plan as sim3, centroids from
    pyspark.ml KMeans over unit vectors, nprobe=4."""
    vecs = _normalized(_vecs(spark, sf_dir))
    cents = kmeans_centroids(spark, sf_dir)
    return _ivf_search(vecs, cents, nprobe=4)


_N_LLOYD_ITER = 2


def sql_lloyd_centroids(
    vecs: DataFrame, k: int = _N_CENTROIDS, n_iter: int = _N_LLOYD_ITER
) -> DataFrame:
    """Spherical k-means as pure relational ops — the oracle-checkable
    trainer. Deterministic init (first k unit vectors), then ``n_iter``
    fixed Lloyd steps: assign (9-decimal-rounded distance argmin, cid
    tie-break), element-wise mean per cell (rounded to 6 decimals so
    cross-engine float-sum order cannot flip a later assignment), and
    re-normalization to the unit sphere. Unlike pyspark.ml KMeans, each
    step is a DataFrame plan an engine-vs-engine oracle can reproduce —
    the unrolled-iteration twin lives in sim4_recall_vs_exact's SQL."""
    cents = vecs.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(n_iter):
        dist = F.aggregate(
            F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.round(dist, 9).asc(), F.col("cid")
        )
        assigned = (
            vecs.crossJoin(F.broadcast(cents))
            .select("vec_id", "v", "cid", F.row_number().over(w).alias("rn"))
            .where(F.col("rn") == 1)
        )
        per_dim = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("a"))
        )
        gathered = (
            per_dim.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "a"))).alias("s"))
            .select("cid", F.transform(F.col("s"), lambda st: st["a"]).alias("cv"))
        )
        norm = F.sqrt(
            F.aggregate(
                F.transform(F.col("cv"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        cents = gathered.select(
            "cid", F.transform(F.col("cv"), lambda x: F.round(x / norm, 6)).alias("cv")
        )
    # Materialize the trained centroids per invocation (k rows — O(k)
    # executor storage at any corpus scale): consumers broadcast cents
    # into per-vector crossJoins, and without materialization each
    # consumer re-executes the whole unrolled Lloyd chain, whose deep
    # nested plan also codegen-compiles as one unit (r14; the g6
    # per-iteration-checkpoint precedent). Values are the exact computed
    # rows, so results are bit-identical.
    return memo.materialize(cents, eager=False)


def _dd_dist(vcol: str, ccol: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({vcol}) + 1),"
        f" i -> ({vcol}[i] - {ccol}[i]) * ({vcol}[i] - {ccol}[i])))"
    )


def _dd_lloyd_iteration(i: int, prev: str) -> str:
    """One unrolled Lloyd step as DuckDB CTEs (the twin of one loop body
    in ``sql_lloyd_centroids``)."""
    return f"""
    a{i} AS (
      SELECT vec_id, v, cid FROM (
        SELECT vecs.vec_id, vecs.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                 ORDER BY ROUND({_dd_dist('vecs.v', 'c.cv')}, 9), c.cid) AS rn
        FROM vecs, {prev} c) t
      WHERE rn = 1),
    m{i} AS (
      SELECT cid, i, ROUND(AVG(val), 6) AS a FROM (
        SELECT cid, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS i
        FROM a{i})
      GROUP BY cid, i),
    g{i} AS (SELECT cid, list(a ORDER BY i) AS cv FROM m{i} GROUP BY cid),
    c{i} AS (
      SELECT cid,
             list_transform(cv, x -> ROUND(
               x / SQRT(list_sum(list_transform(cv, y -> y * y))), 6)) AS cv
      FROM g{i})"""


# shared CTE prefix: normalized vectors, deterministic init, and the
# unrolled Lloyd iterations — reused by every oracle that consumes the
# trained centroids (sim4's recall check, ml1's cluster sizes)
_DD_LLOYD_PREFIX = f"""
    WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    vecs AS (
      SELECT vec_id,
             list_transform(v, x ->
               x / SQRT(list_sum(list_transform(v, y -> y * y)))) AS v
      FROM raw),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM vecs WHERE vec_id < {_N_CENTROIDS}),
    {','.join(_dd_lloyd_iteration(i + 1, f'c{i}') for i in range(_N_LLOYD_ITER))}"""


_RECALL_SQL = _DD_LLOYD_PREFIX + f""",
    ranked_cells AS (
      SELECT vecs.vec_id, vecs.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
               ORDER BY ROUND({_dd_dist('vecs.v', 'c.cv')}, 9), c.cid) AS rn
      FROM vecs, c{_N_LLOYD_ITER} c),
    q AS (SELECT vec_id, v, cid FROM ranked_cells
          WHERE vec_id < {_N_QUERIES} AND rn <= 4),
    cand AS (SELECT vec_id, v, cid FROM ranked_cells
             WHERE vec_id >= {_N_QUERIES} AND rn = 1),
    ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_COS_SQL}, 6) DESC, n.vec_id) AS rn
        FROM q JOIN cand n ON q.cid = n.cid) t
      WHERE rn <= {_TOP_K}),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_COS_SQL}, 6) DESC, n.vec_id) AS rn
        FROM (SELECT * FROM vecs WHERE vec_id < {_N_QUERIES}) q,
             (SELECT * FROM vecs WHERE vec_id >= {_N_QUERIES}) n) t
      WHERE rn <= {_TOP_K})
    SELECT e.query_id,
           CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                                  THEN 1 END), 0) AS BIGINT) AS n_overlap,
           ROUND(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                                   THEN 1 END), 0) / {_TOP_K}.0, 6) AS recall_at_k
    FROM exact e LEFT JOIN ann a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
"""


@query("sim4_recall_vs_exact", oracle=_RECALL_SQL)
def sim4_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim4's quality made driver-visible: overlap@k of a trained-IVF ANN
    against sim1's exact top-k, per query. The trainer is the
    SQL-expressible fixed-iteration Lloyd (``sql_lloyd_centroids``) so
    the WHOLE pipeline — training, assignment, nprobe=4 cell-pruned
    search, and the overlap computation — hash-verifies against the
    DuckDB oracle; pyspark.ml-trained sim4 itself stays rows-only
    (iterative, engine-internal init) with its recall asserted vs sim1
    in pytest."""
    vecs = _normalized(_vecs(spark, sf_dir))
    ann = _ivf_search(vecs, sql_lloyd_centroids(vecs), nprobe=4).select(
        "query_id", "neighbor_id"
    )
    q = vecs.where(F.col("vec_id") < _N_QUERIES).alias("q")
    c = vecs.where(F.col("vec_id") >= _N_QUERIES).alias("n")
    cos = _dot("q.v", "n.v") / (F.sqrt(_dot("q.v", "q.v")) * F.sqrt(_dot("n.v", "n.v")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    exact = (
        scored.select("*", F.row_number().over(wq).alias("rn"))
        .where(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id")
    )
    j = exact.join(
        ann.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    return (
        j.groupBy("query_id")
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap") / float(_TOP_K), 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


_ML1_SQL = _DD_LLOYD_PREFIX + f""",
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vecs.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                 ORDER BY ROUND({_dd_dist('vecs.v', 'c.cv')}, 9), c.cid) AS rn
        FROM vecs, c{_N_LLOYD_ITER} c) t
      WHERE rn = 1)
    SELECT cid, COUNT(*) AS n_members FROM assigned GROUP BY cid ORDER BY cid
"""


@query("ml1_kmeans_cluster_sizes", oracle=_ML1_SQL)
def ml1_kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §2.11's KMeans benchmark made hash-verifiable: the
    cluster-membership counts after the fixed-seed deterministic init and
    ``_N_LLOYD_ITER`` unrolled Lloyd steps (``sql_lloyd_centroids``).

    pyspark.ml training itself (MLPerformance.scala's KMeans benchmark,
    re-expressed in ml/benchmarks.py) is iterative with engine-internal
    init, so it stays a pytest-only check — this companion runs the SAME
    algorithm as a pure relational plan (the sim4 pattern) so training +
    assignment hash-match the DuckDB oracle end to end. Scale: per Lloyd
    step one broadcast of k centroid rows, one argmin window keyed by
    vec_id, one groupBy(k * dim) — nothing grows super-linearly with the
    corpus, and the final count shuffles k rows."""
    vecs = _normalized(_vecs(spark, sf_dir))
    cents = sql_lloyd_centroids(vecs)
    dist = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.round(dist, 9).asc(), F.col("cid"))
    assigned = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
    )
    return (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cid")
    )
