"""Sign-LSH signature equivalence: the plan-time literal-plane form must
produce BIT-IDENTICAL signatures to the md5-in-expression derivation
(same component values, same left-to-right summation) — that identity is
what lets sim2/d5 use the ~100x-cheaper literal form while their DuckDB
oracles keep running the in-expression SQL twin."""

from __future__ import annotations

from tests.conftest import SF_DIR_TINY


def test_literal_planes_match_md5_expression(spark):
    from pyspark.sql import functions as F

    from spark_sql_perf_spark.functions.lsh import sign_lsh_sig_spark
    from spark_sql_perf_spark.pipeline.similarity import embedding_dim

    vecs = spark.read.parquet(f"{SF_DIR_TINY}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dim = embedding_dim(vecs)
    assert dim and dim > 0
    both = vecs.select(
        "vec_id",
        sign_lsh_sig_spark().alias("sig_expr"),
        sign_lsh_sig_spark(dim=dim).alias("sig_lit"),
    )
    n_total = both.count()
    n_equal = both.where(F.col("sig_expr") == F.col("sig_lit")).count()
    assert n_total > 0
    assert n_equal == n_total


def test_plane_value_matches_engine_derivation(spark):
    """The Python plane constant equals the engine's DOUBLE-typed
    derivation for the same (bit, i).

    Typing subtlety this test pins down: in Spark SQL, BIGINT /
    2147483648.0 is DECIMAL division (the literal parses as
    DECIMAL(11,1)), scale-rounded ~1e-12 off the exact double — which is
    why BOTH in-repo forms pin the divisor with ``cast(... as double)``:
    the in-expression form (``_plane_sign_spark``) and the literal-plane
    form each compute exactly the doubles the DuckDB oracle computes
    (DuckDB float literals are DOUBLE natively)."""
    from spark_sql_perf_spark.functions.lsh import _plane_value

    for bit, i in [(0, 1), (3, 17), (7, 64)]:
        got = spark.sql(
            f"SELECT cast(conv(substring(md5(concat('lsh|p{bit}-', cast({i} as string))), 1, 8), 16, 10) AS BIGINT)"
            f" / cast(2147483648.0 AS double) - 1.0 AS p"
        ).first()["p"]
        assert got == _plane_value(bit, i)


def test_recursive_split_level2_fires_and_matches_oracle(spark, duck, tmp_path):
    """The r8 recursive split, exercised PAST level 1: with nbits=2 /
    split_bits=1 / cap=2 over 64 vectors, base buckets (~16 rows) split,
    their sub-buckets (~8 rows) are still over the cap and MUST recurse
    to level 2 — the case the single-level form silently left unsplit.
    Asserts (a) level-2 keys actually appear, (b) the full multi-level
    bucketing is bit-identical between lsh_buckets_df and the generated
    DuckDB CTE chain (the same generator the sim6/sim7/d5 oracles
    splice in), and (c) recursion strictly reduces the candidate-pair
    volume vs the single-level form on the same data."""
    import pandas as pd
    from pyspark.sql import functions as F

    from spark_sql_perf_spark.functions.lsh import (
        lsh_bucketed_cte_sql,
        lsh_sig_cols_sql,
        split_marker,
    )
    from spark_sql_perf_spark.pipeline.similarity import lsh_buckets_df

    nbits, split_bits, cap = 2, 1, 2
    # deterministic pseudo-random vectors (no RNG): md5-ish spread via
    # integer arithmetic, dim 4
    rows = [
        (i, [((i * 2654435761 + d * 40503) % 1000) / 500.0 - 1.0
             for d in range(4)])
        for i in range(64)
    ]
    path = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(rows, "vec_id: long, v: array<double>").write.parquet(path)

    vecs = spark.read.parquet(path)
    got = lsh_buckets_df(
        vecs, nbits=nbits, split_bits=split_bits, cap=cap, dim=4, levels=2
    ).toPandas().sort_values("vec_id").reset_index(drop=True)

    m2 = split_marker(2, nbits, split_bits)
    assert (got["sig"] >= m2).any(), "level-2 split never fired"

    sql = f"""
    WITH vecs AS (SELECT vec_id, v FROM read_parquet('{path}/*.parquet')),
    signed AS (SELECT vec_id, v,
        {lsh_sig_cols_sql(nbits, split_bits, levels=2)} FROM vecs),
    {lsh_bucketed_cte_sql("signed", nbits=nbits, split_bits=split_bits,
                          cap=cap, levels=2)}
    SELECT vec_id, sig FROM bucketed ORDER BY vec_id
    """
    want = duck.execute(sql).df()
    assert list(got["sig"].astype("int64")) == list(want["sig"].astype("int64"))

    one_level = lsh_buckets_df(
        vecs, nbits=nbits, split_bits=split_bits, cap=cap, dim=4, levels=1
    ).groupBy("sig").agg(F.count(F.lit(1)).alias("c"))
    two_level = lsh_buckets_df(
        vecs, nbits=nbits, split_bits=split_bits, cap=cap, dim=4, levels=2
    ).groupBy("sig").agg(F.count(F.lit(1)).alias("c"))

    def pairs(df: pd.DataFrame) -> int:
        return int((df["c"] * (df["c"] - 1)).sum())

    p1, p2 = pairs(one_level.toPandas()), pairs(two_level.toPandas())
    assert p2 < p1, f"recursion did not reduce candidate volume ({p1} -> {p2})"


def test_sim6_knn_graph_properties(spark):
    """kNN-graph invariants the oracle only checks statistically: no self
    edges, at most K neighbors per vector with contiguous ranks, every
    edge stays within one LSH bucket, and edges at equal (rounded) cosine
    rank by neighbor_id."""
    from pyspark.sql import functions as F

    from spark_sql_perf_spark.functions.lsh import sign_lsh_sig_spark
    from spark_sql_perf_spark.operators import QUERIES
    from spark_sql_perf_spark.pipeline.similarity import _KNN_K, embedding_dim

    out = QUERIES["sim6_knn_graph"](spark, SF_DIR_TINY).cache()
    assert out.where(F.col("vec_id") == F.col("neighbor_id")).count() == 0
    ranks = (
        out.groupBy("vec_id")
        .agg(F.max("rn").alias("mx"), F.count("*").alias("n"))
        .where((F.col("mx") > _KNN_K) | (F.col("mx") != F.col("n")))
        .count()
    )
    assert ranks == 0  # ranks are 1..n with n <= K, no holes

    vecs = spark.read.parquet(f"{SF_DIR_TINY}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sig = vecs.select(
        "vec_id", sign_lsh_sig_spark(dim=embedding_dim(vecs)).alias("sig")
    )
    cross_bucket = (
        out.join(sig.withColumnRenamed("vec_id", "a"), out.vec_id == F.col("a"))
        .withColumnRenamed("sig", "sig_a")
        .join(sig.withColumnRenamed("vec_id", "b"), out.neighbor_id == F.col("b"))
        .where(F.col("sig_a") != F.col("sig"))
        .count()
    )
    assert cross_bucket == 0
    out.unpersist()


def test_non_finite_literals_refused_at_construction(monkeypatch):
    """nan/inf have no SQL double literal (``nanD`` would only fail when
    the expression is parsed): the plane and codebook constructors refuse
    them while the literal text is assembled."""
    import pytest

    from spark_sql_perf_spark.functions import lsh
    from spark_sql_perf_spark.pipeline import pq

    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            lsh.sql_double(bad)
        with pytest.raises(ValueError, match="non-finite"):
            pq._dm_col(0, [(0.125, 0.25), (bad, 0.5)])
        monkeypatch.setattr(lsh, "_plane_value", lambda bit, i, v=bad: v)
        for unroll in (False, True):
            with pytest.raises(ValueError, match="non-finite"):
                lsh._plane_sign_spark_lit(0, 4, unroll=unroll)
    assert lsh.sql_double(0.1) == "0.1D"
