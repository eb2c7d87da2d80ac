"""Streaming ANN serving: a stream of query vectors joined per
micro-batch against a STATIC adaptive-bucketed corpus (sim6's
lsh_buckets_df layout), top-k per query.

The serving shape at scale: the corpus index is built once (bucketed,
materialized OR laid out on storage — ``write_lsh_partitioned``
below), queries arrive continuously, and each micro-batch is a
stateless bucket equi-join + per-query top-k — no streaming state at
all, so it runs through foreachBatch (per-query ranking is a plain
window inside the batch; Spark's streaming engine does not allow
non-time windows on the stream itself, and serving systems rank per
request anyway).

Query-side bucket assignment under the adaptive split: a corpus region
carries exactly one key per split depth 0..levels (unsplit sig0, or
sig0+sigx1+marker_1, recursing to sig0+sigx1+sigx2+marker_2). The
query cannot know a region's depth without consulting the index, so it
emits ALL levels+1 candidate keys (a small explode) and equi-joins the
corpus key — at most one key exists on the corpus side per region, so
this costs ``levels`` extra probe rows per query, never a second scan
and never duplicate matches. Results are identical to running the same
expression in batch over all queries at once (asserted across
micro-batch slicings in tests).

Key-space discipline (the r8 ADVICE latent bug): an index built with
one (nbits, split_bits, levels) and probed with another computes keys
in a DIFFERENT space and silently returns no/wrong matches. Every
probe here therefore takes its params FROM the index — the ``AnnIndex``
handle in memory, the ``_params`` sidecar at rest — instead of
re-assuming module defaults.
"""

from __future__ import annotations

import json
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..functions.lsh import LshParams, sign_lsh_sig_spark, sized_params, split_marker
from ..plans.layout import MAX_PARTS, sized_parts

# pipeline.similarity (a registry module) is imported lazily inside the
# functions below: pipeline/__init__ imports its modules in a fixed
# order and dedup's oracle construction imports similarity at module
# load, so a top-level import here can observe a partially-initialized
# module depending on which package the process touches first.
# functions.lsh is a cycle-free leaf and stays top-level.


class AnnIndex(NamedTuple):
    """An in-memory ANN index: the bucketed corpus frame plus the key
    space it was bucketed in (so probes can never drift — see module
    docstring) and the vector dim its plane literals were embedded at."""

    df: DataFrame
    params: LshParams
    dim: int | None


def build_ann_index(
    vecs: DataFrame,
    dim: int | None = None,
    params: LshParams | None = None,
    n: int | None = None,
) -> AnnIndex:
    """The static corpus index: (vec_id, v, sig) under the adaptive
    split, materialized — built once, probed by every batch. Pass ``n``
    (the corpus row count) to size the key space with ``sized_params``
    (the production path), or an explicit ``params``; the default is the
    oracle-scale module constants (test/registry scale only)."""
    from ..pipeline.similarity import lsh_buckets_df

    if params is None:
        params = sized_params(n) if n is not None else LshParams()
    df = memo.materialize(
        lsh_buckets_df(
            vecs, params.nbits, params.split_bits, params.cap, dim, params.levels
        ),
        eager=False,
    )
    return AnnIndex(df, params, dim)


def _query_keys(
    queries: DataFrame,
    dim: int | None = None,
    params: LshParams = LshParams(),
) -> DataFrame:
    """Each query with its levels+1 candidate bucket keys exploded (one
    per possible split depth of the region it probes — at most one
    exists on the index side, so this is ``levels`` extra probe rows per
    query, never duplicate matches). ``params`` must be the INDEX's key
    space (AnnIndex.params / the at-rest sidecar)."""
    nbits, split_bits, _, levels = params
    keys = [sign_lsh_sig_spark(nbits, dim=dim)]
    for i in range(1, levels + 1):
        sigx = sign_lsh_sig_spark(
            split_bits, dim=dim, lo=nbits + (i - 1) * split_bits
        )
        keys.append(
            keys[-1]
            - F.lit(0 if i == 1 else split_marker(i - 1, nbits, split_bits))
            + sigx + F.lit(split_marker(i, nbits, split_bits))
        )
    return queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode(F.array(*keys)).alias("sig"),
    )


def _rank_probe(
    keyed_queries: DataFrame, corpus: DataFrame, k: int, dim: int | None
) -> DataFrame:
    """Shared probe tail: bucket equi-join (self-match excluded), exact
    cosine within the matched bucket, top-k per query."""
    from ..pipeline.similarity import _cosine

    c = corpus.alias("c")
    scored = (
        keyed_queries.alias("q")
        .join(c, (F.col("q.sig") == F.col("c.sig"))
              & (F.col("q.query_id") != F.col("c.vec_id")))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.round(_cosine("q.qv", "c.v", dim), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= k)
    )


def ann_serve_batch(
    queries: DataFrame,
    index: AnnIndex | DataFrame,
    k: int = 3,
    dim: int | None = None,
    params: LshParams | None = None,
) -> DataFrame:
    """One serving batch: probe all candidate keys, exact-cosine rank
    within the matched bucket, top-k per query (self-match excluded).
    With an ``AnnIndex`` the key space and dim ride the handle; a bare
    DataFrame index needs ``params`` (defaults to the oracle-scale
    constants) and ``dim`` supplied to match how it was bucketed."""
    if isinstance(index, AnnIndex):
        corpus = index.df
        params = index.params if params is None else params
        dim = index.dim if dim is None else dim
    else:
        corpus = index
        params = params or LshParams()
    return _rank_probe(_query_keys(queries, dim, params), corpus, k, dim)


# ---------------------------------------------------------------------------
# The index AT REST: partitioned parquet layout + pruned serving.
# ---------------------------------------------------------------------------

# The layout partitions by sig % nparts (the bucket key itself would be
# millions of directories at production nbits). nparts is
# plans.layout.sized_parts at this many vectors per directory, capped at
# 2^nbits so sig % nparts depends on the BASE signature's low bits alone:
# all of a query's levels+1 candidate keys land in the SAME partition.
_VECS_PER_PART = 2_000_000


def write_lsh_partitioned(
    vecs: DataFrame,
    path: str,
    dim: int | None = None,
    params: LshParams | None = None,
    n: int | None = None,
    nparts: int | None = None,
) -> LshParams:
    """Materialize the adaptive-bucketed corpus at rest, PARTITIONED BY
    a bounded sig-derived key — the 100 TB serving layout (the ANN twin
    of ``pipeline.ivf.write_ivf_partitioned``): the index outlives the
    session, and a probe reads only the partition directories its
    candidate keys hash into, via plain partition pruning.

    The key space rides WITH the layout: params land in a one-row
    ``_params`` sidecar parquet next to the data (storage-agnostic —
    works on any filesystem Spark writes to), and every at-rest probe
    reads them back instead of assuming module defaults. Pass ``n``
    (corpus rows) for ``sized_params`` key-space sizing; defaults are
    oracle-scale. ``nparts`` defaults to sized over ``n`` (or a count).
    """
    from ..pipeline.similarity import lsh_buckets_df

    if params is None:
        params = sized_params(n) if n is not None else LshParams()
    if nparts is None:
        rows = vecs.count() if n is None else n
        nparts = sized_parts(rows, _VECS_PER_PART, min(1 << params.nbits, MAX_PARTS))
    bucketed = lsh_buckets_df(
        vecs, params.nbits, params.split_bits, params.cap, dim, params.levels
    )
    (
        bucketed.withColumn("sig_part", F.pmod(F.col("sig"), F.lit(nparts)))
        .write.mode("overwrite").partitionBy("sig_part").parquet(path)
    )
    spark = vecs.sparkSession
    # One-row sidecar built JVM-side (range(1) + literals): a pickled
    # local relation (createDataFrame) coalesced to one task measured
    # ~5 s of pure py4j/Python-worker overhead for this single row
    # (r14 phase profile); the literal projection writes in ~0.2 s and
    # reads back identically.
    sidecar_cols = [
        F.lit(params.nbits).cast("int").alias("nbits"),
        F.lit(params.split_bits).cast("int").alias("split_bits"),
        F.lit(params.cap).cast("int").alias("cap"),
        F.lit(params.levels).cast("int").alias("levels"),
        F.lit(nparts).cast("int").alias("nparts"),
        F.lit(dim).cast("int").alias("dim"),
    ]
    spark.range(0, 1, 1, 1).select(*sidecar_cols).write.mode("overwrite").parquet(
        _params_path(path)
    )
    return params


def _params_path(path: str) -> str:
    return path.rstrip("/") + "_params"


def read_lsh_params(spark: SparkSession, path: str) -> tuple[LshParams, int, int | None]:
    """(params, nparts, dim) of an at-rest index — the sidecar read."""
    r = spark.read.parquet(_params_path(path)).first()
    return (
        LshParams(r["nbits"], r["split_bits"], r["cap"], r["levels"]),
        int(r["nparts"]),
        None if r["dim"] is None else int(r["dim"]),
    )


def ann_serve_at_rest(
    spark: SparkSession, queries: DataFrame, path: str, k: int = 3
) -> DataFrame:
    """Serve a query batch against the at-rest index under PARTITION
    PRUNING: compute the batch's candidate keys, collect the (bounded —
    at most nparts values, regardless of batch size) set of partition
    directories they hash into, and read ONLY those via an ``isin``
    partition filter before the bucket equi-join. The collect is the
    same bounded-probe-set pattern as ``ivf_partitioned_search``; the
    scan-level pruning is asserted in tests/test_ann_at_rest.py."""
    params, nparts, dim = read_lsh_params(spark, path)
    # localCheckpoint: the keyed probe frame is consumed twice (the
    # bounded distinct-collect below AND the join), and without
    # materialization both consumers re-evaluate the plane projections
    # per query row — the same double-evaluation lsh_buckets_df's
    # checkpoint prevents (see its docstring).
    keyed = memo.materialize(_query_keys(queries, dim, params), eager=False)
    probed = sorted(
        r["p"]
        for r in keyed.select(
            F.pmod(F.col("sig"), F.lit(nparts)).alias("p")
        ).distinct().collect()
    )
    corpus = (
        spark.read.parquet(path)
        .where(F.col("sig_part").isin(probed))
        .select("vec_id", "v", "sig")
    )
    return _rank_probe(keyed, corpus, k, dim)


def stream_vectors(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str,
    max_files_per_trigger: int | None = None,
    schema=None,
) -> DataFrame:
    """The embeddings table as a file stream of (vec_id, v) queries.
    Pass ``schema`` (e.g. from an already-loaded corpus frame) to skip
    the extra footer read the schema probe otherwise performs."""
    if schema is None:
        schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(stream_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def streaming_ann_serve(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str,
    out_dir: str,
    k: int = 3,
    max_files_per_trigger: int | None = None,
    params: LshParams | None = None,
    index_path: str | None = None,
) -> None:
    """Drain the query stream against the static index, appending each
    batch's top-k matches to a parquet results sink (the serving-log
    deployment shape; foreachBatch calls are serialized by the engine).

    Index residency: with ``index_path`` the server reads the AT-REST
    partitioned layout (building it first if absent) and every batch
    probes under partition pruning — the 100 TB shape, where the index
    outlives any session and is never rebuilt per restart. Without it,
    the index is built and materialized for the drain (test /
    small-corpus shape). Key-space sizing defaults to ``sized_params``
    over the corpus count — the production rule — unless ``params``
    pins it (the batch-equivalence tests pin the oracle-scale constants
    so the split path stays exercised at test scale)."""
    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = raw.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    from ..pipeline.similarity import embedding_dim

    dim = embedding_dim(corpus, key=sf_dir)
    if params is None:
        params = sized_params(corpus.count())

    index: AnnIndex | None = None
    if index_path is not None:
        import os

        if not os.path.exists(_params_path(index_path)):
            write_lsh_partitioned(corpus, index_path, dim, params)

        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            ann_serve_at_rest(spark, batch_df, index_path, k).write.mode(
                "append"
            ).parquet(out_dir)
    else:
        index = build_ann_index(corpus, dim, params)

        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            ann_serve_batch(batch_df, index, k).write.mode("append").parquet(
                out_dir
            )

    queries = stream_vectors(
        spark, sf_dir, stream_dir, max_files_per_trigger, schema=raw.schema
    )
    q = (
        queries.writeStream.foreachBatch(sink)
        # Checkpoint the source offsets: without it a restart after a
        # mid-drain failure re-reads ALL input files and appends duplicate
        # rows to the serving log. With it the restart resumes from the
        # last committed batch — the parquet append is still at-least-once
        # across a crash INSIDE a batch (foreachBatch's documented
        # contract), but never replays whole completed batches.
        .option("checkpointLocation", f"{out_dir}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError("streaming_ann_serve: drain exceeded 120s")
    finally:
        if index is not None:
            memo.release(index.df)
