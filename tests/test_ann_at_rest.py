"""The ANN index AT REST (r9): the adaptive-bucketed corpus written
partitioned by a bounded sig-derived key, probed under partition
pruning, with the LSH key-space params riding the layout as a sidecar.

Three claims, each load-bearing for the 100 TB serving design:
(a) the at-rest probe returns EXACTLY what the in-memory probe returns
    for the same key space (residency is invisible to results);
(b) the probe reads ONLY the partition directories the batch's
    candidate keys hash into (scan-level pruning, the IVF layout's
    input_file_name proof);
(c) the key space is read FROM the sidecar, so an index written with
    sized (production) params is probed in that same space — the
    silent-mismatch failure mode the param threading exists to prevent.
"""

from __future__ import annotations

import os
import re

from conftest import SF_DIR_SMALL, SF_DIR_TINY
from pyspark.sql import functions as F


def _corpus(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _snap(df):
    return sorted(
        (r.query_id, r.rn, r.neighbor_id, r.cosine) for r in df.collect()
    )


def test_at_rest_matches_in_memory_and_prunes(spark, tmp_path):
    from spark_sql_perf_spark import memo
    from spark_sql_perf_spark.pipeline.similarity import embedding_dim
    from spark_sql_perf_spark.streaming.ann import (
        ann_serve_at_rest,
        ann_serve_batch,
        build_ann_index,
        read_lsh_params,
        write_lsh_partitioned,
    )

    path = str(tmp_path / "lsh_corpus")
    corpus = _corpus(spark, SF_DIR_SMALL)
    dim = embedding_dim(corpus)
    # oracle-scale params (default): the sf0.01 corpus DOES split at
    # cap=5, so the multi-key probe exercises every depth. An explicit
    # 64 directories: the size-derived count of this corpus is one,
    # which leaves nothing to prune
    written = write_lsh_partitioned(corpus, path, dim, nparts=64)
    queries = corpus.where(F.col("vec_id") < 5)

    got = ann_serve_at_rest(spark, queries, path, k=3)
    index = build_ann_index(corpus, dim)
    try:
        want = ann_serve_batch(queries, index, k=3)
        assert _snap(got) == _snap(want) and got.count() > 0
    finally:
        memo.release(index.df)

    # sidecar round-trip
    params, nparts, side_dim = read_lsh_params(spark, path)
    assert params == written and side_dim == dim

    # scan-level pruning: the files ACTUALLY read under the sig_part
    # filter (input_file_name is filter-aware; DataFrame.inputFiles is
    # not) all lie in probed partitions' directories, a strict subset
    from spark_sql_perf_spark.streaming.ann import _query_keys

    probed = {
        r["p"]
        for r in _query_keys(queries, dim, params)
        .select(F.pmod(F.col("sig"), F.lit(nparts)).alias("p"))
        .distinct()
        .collect()
    }
    read_parts = {
        m.group(0)
        for r in (
            spark.read.parquet(path)
            .where(F.col("sig_part").isin(sorted(probed)))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        for m in [re.search(r"sig_part=\d+", r["f"])]
        if m
    }
    all_parts = {
        m.group(0)
        for f in spark.read.parquet(path).inputFiles()
        for m in [re.search(r"sig_part=\d+", f)]
        if m
    }
    assert read_parts, "no partition directories in the scanned files"
    assert read_parts <= {f"sig_part={p}" for p in probed}
    assert read_parts < all_parts, (
        f"scan was not pruned: read {len(read_parts)} of {len(all_parts)}"
    )


def test_sized_params_ride_the_sidecar(spark, tmp_path):
    """An index written with PRODUCTION (sized_params) sizing is probed
    in that key space because the probe reads the sidecar — with the
    module defaults instead, the keys would land in a different space
    and the probe would silently miss (the r8 ADVICE latent bug)."""
    from spark_sql_perf_spark.functions.lsh import LshParams, sized_params
    from spark_sql_perf_spark.pipeline.similarity import embedding_dim
    from spark_sql_perf_spark.streaming.ann import (
        AnnIndex,
        ann_serve_at_rest,
        ann_serve_batch,
        write_lsh_partitioned,
    )
    from spark_sql_perf_spark.pipeline.similarity import lsh_buckets_df

    path = str(tmp_path / "lsh_sized")
    corpus = _corpus(spark, SF_DIR_SMALL)
    dim = embedding_dim(corpus)
    n = corpus.count()
    params = sized_params(n)
    assert params != LshParams(), "sized params should differ at any n"
    write_lsh_partitioned(corpus, path, dim, params=params)

    queries = corpus.where(F.col("vec_id") < 5)
    got = ann_serve_at_rest(spark, queries, path, k=3)
    mem = AnnIndex(
        lsh_buckets_df(
            corpus, params.nbits, params.split_bits, params.cap, dim,
            params.levels,
        ),
        params,
        dim,
    )
    want = ann_serve_batch(queries, mem, k=3)
    assert _snap(got) == _snap(want) and got.count() > 0


def test_streaming_server_reads_at_rest_index(spark, tmp_path):
    """The streaming server pointed at an at-rest index path: builds the
    layout once, probes it per micro-batch under pruning, and the drained
    serving log equals the one-shot at-rest batch over all queries."""
    import shutil
    import tempfile

    from spark_sql_perf_spark.functions.lsh import LshParams
    from spark_sql_perf_spark.streaming.ann import (
        ann_serve_at_rest,
        streaming_ann_serve,
    )

    emb = spark.read.parquet(f"{SF_DIR_TINY}/embeddings.parquet")
    stream_dir = tempfile.mkdtemp(prefix="ann-rest-queries-")
    out_dir = os.path.join(str(tmp_path), "out")
    index_path = os.path.join(str(tmp_path), "lsh_index")
    for i, part in enumerate(
        (emb.where(F.col("vec_id") % 2 == 0), emb.where(F.col("vec_id") % 2 == 1))
    ):
        pdir = os.path.join(stream_dir, f"in{i}")
        part.coalesce(1).write.mode("overwrite").parquet(pdir)
        src = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
        os.rename(os.path.join(pdir, src),
                  os.path.join(stream_dir, f"part-{i}.parquet"))
        shutil.rmtree(pdir)

    streaming_ann_serve(
        spark, SF_DIR_TINY, stream_dir, out_dir, k=3,
        max_files_per_trigger=1, params=LshParams(), index_path=index_path,
    )
    assert os.path.exists(index_path + "_params"), "sidecar not written"

    got = {
        (r.query_id, r.rn): (r.neighbor_id, r.cosine)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r.query_id, r.rn): (r.neighbor_id, r.cosine)
        for r in ann_serve_at_rest(
            spark, _corpus(spark, SF_DIR_TINY), index_path, k=3
        ).collect()
    }
    assert got == want and len(got) > 0
    shutil.rmtree(stream_dir, ignore_errors=True)


def test_ann_directory_count_is_the_shared_rule(spark, tmp_path):
    """The at-rest ANN layout sizes its directories with the shared
    plans.layout rule: ~2 M vectors per directory, a power of two, at
    most min(2^nbits, 2^14). A tiny corpus gets one directory, not a
    fixed floor of 64."""
    from spark_sql_perf_spark.functions.lsh import LshParams
    from spark_sql_perf_spark.pipeline.similarity import embedding_dim
    from spark_sql_perf_spark.plans.layout import MAX_PARTS, sized_parts
    from spark_sql_perf_spark.streaming.ann import (
        _VECS_PER_PART,
        read_lsh_params,
        write_lsh_partitioned,
    )

    assert _VECS_PER_PART == 2_000_000
    assert sized_parts(10**9, _VECS_PER_PART) == 512  # 1e9/2e6=500 -> 512
    assert sized_parts(10**9, _VECS_PER_PART, 1 << 8) == 256  # capped at 2^nbits
    assert sized_parts(10**12, _VECS_PER_PART) == MAX_PARTS  # hard directory cap

    path = str(tmp_path / "lsh_tiny")
    corpus = _corpus(spark, SF_DIR_TINY)
    n = corpus.count()
    write_lsh_partitioned(corpus, path, embedding_dim(corpus))
    _, nparts, _ = read_lsh_params(spark, path)
    assert nparts == sized_parts(n, _VECS_PER_PART, 1 << LshParams().nbits) == 1
    dirs = [d for d in os.listdir(path) if d.startswith("sig_part=")]
    assert dirs == ["sig_part=0"], dirs


def test_streaming_restart_never_replays_and_reuses_index(spark, tmp_path):
    """Serving from the at-rest index across a restart: the second drain
    (checkpoint present, new file added) appends ONLY the new batch, a
    third drain with no new input appends nothing, and the index layout
    is written once (the second call sees the sidecar and skips the
    build)."""
    import shutil
    import tempfile

    from spark_sql_perf_spark.functions.lsh import LshParams
    from spark_sql_perf_spark.streaming.ann import (
        ann_serve_at_rest,
        streaming_ann_serve,
    )

    emb = spark.read.parquet(f"{SF_DIR_TINY}/embeddings.parquet")
    stream_dir = tempfile.mkdtemp(prefix="ann-restart-")
    out_dir = os.path.join(str(tmp_path), "out")
    index_path = os.path.join(str(tmp_path), "idx")

    def add_file(i, part):
        pdir = os.path.join(stream_dir, f"in{i}")
        part.coalesce(1).write.mode("overwrite").parquet(pdir)
        src = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
        os.rename(os.path.join(pdir, src),
                  os.path.join(stream_dir, f"part-{i}.parquet"))
        shutil.rmtree(pdir)

    halves = (emb.where(F.col("vec_id") % 2 == 0),
              emb.where(F.col("vec_id") % 2 == 1))
    add_file(0, halves[0])
    streaming_ann_serve(spark, SF_DIR_TINY, stream_dir, out_dir, k=3,
                        params=LshParams(), index_path=index_path)
    n_first = spark.read.parquet(out_dir).count()
    assert n_first > 0
    sidecar_mtime = os.path.getmtime(index_path + "_params")

    # "restart": a new file arrives, same checkpoint — batch 0 must NOT
    # replay, and the index must not be rebuilt
    add_file(1, halves[1])
    streaming_ann_serve(spark, SF_DIR_TINY, stream_dir, out_dir, k=3,
                        params=LshParams(), index_path=index_path)
    got = {
        (r.query_id, r.rn): (r.neighbor_id, r.cosine)
        for r in spark.read.parquet(out_dir).collect()
    }
    total = spark.read.parquet(out_dir).count()
    assert len(got) == total, "duplicate (query, rn) rows: a batch replayed"
    assert os.path.getmtime(index_path + "_params") == sidecar_mtime

    want = {
        (r.query_id, r.rn): (r.neighbor_id, r.cosine)
        for r in ann_serve_at_rest(
            spark, _corpus(spark, SF_DIR_TINY), index_path, k=3
        ).collect()
    }
    assert got == want

    # idle re-drain: nothing new, nothing appended
    streaming_ann_serve(spark, SF_DIR_TINY, stream_dir, out_dir, k=3,
                        params=LshParams(), index_path=index_path)
    assert spark.read.parquet(out_dir).count() == total
    shutil.rmtree(stream_dir, ignore_errors=True)
