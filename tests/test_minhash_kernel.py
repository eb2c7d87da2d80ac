"""The shared minhash kernel, relation by relation.

d2 (and through it d6, c7, c15), d10, d11 and the at-rest streaming
index all read one definition per engine: ``_minhash_frames`` in Spark
and ``_minhash_ctes_sql`` in DuckDB. The query oracles only see end
results, so a drift in one intermediate relation that happens not to
change a verified pair would pass them. Here each of hashed, sigs and
bands is compared hash-exact over the same (id, text) rows.
"""

from __future__ import annotations

import pandas as pd

from tests.conftest import SF_DIR_TINY
from tests.oracle_check import compare_frames, register_duckdb_views

# kernel edge cases beside the planted-duplicate corpus: too short to
# shingle, exactly one shingle, repeated shingles, mixed whitespace
_EDGE_ROWS = [
    (9_000_001, "two words"),
    (9_000_002, "exactly three words"),
    (9_000_003, "a b c a b c a b c"),
    (9_000_004, "tab\tand  double space\nnewline words"),
]


def test_minhash_relations_match_duckdb(spark, duck):
    from spark_sql_perf_spark.pipeline.dedup import (
        _CORPUS_SQL,
        _minhash_ctes_sql,
        _minhash_frames,
    )

    register_duckdb_views(duck, SF_DIR_TINY)
    corpus = duck.execute(
        f"WITH {_CORPUS_SQL} SELECT doc_id AS id, text FROM corpus"
    ).df()
    rows = pd.concat(
        [corpus, pd.DataFrame(_EDGE_ROWS, columns=["id", "text"])],
        ignore_index=True,
    )
    duck.register("kernel_rows", rows)
    try:
        kernel = _minhash_ctes_sql("kernel_rows", "k_")
        frames = dict(
            zip(
                ("hashed", "sigs", "bands"),
                _minhash_frames(spark.createDataFrame(rows, "id long, text string")),
            )
        )
        for rel, sdf in frames.items():
            want = duck.execute(f"WITH {kernel} SELECT * FROM k_{rel}").df()
            got = sdf.toPandas()
            assert len(got) > len(_EDGE_ROWS), rel
            compare_frames(got, want, f"minhash {rel}")
    finally:
        duck.unregister("kernel_rows")
