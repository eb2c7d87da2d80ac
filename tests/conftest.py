from __future__ import annotations

import pytest

# Import-order guard: the registry cascade (operators/__init__ imports
# curation, whose module-level oracles read dedup's CTE constants) only
# resolves when it STARTS from the operators package. A test selection
# (-k) whose first test imports pipeline.dedup directly would otherwise
# hit "partially initialized module" — pre-importing here makes every
# selection order equivalent to the full-suite order.
import spark_sql_perf_spark.operators  # noqa: E402,F401

SF_DIR_TINY = "/root/testdata/sf0.001"
SF_DIR_SMALL = "/root/testdata/sf0.01"


def build_index_at(spark, index_dir: str, nparts: int) -> None:
    """build_probe_index's at-rest index of the tiny corpus, at an
    explicit id_part count: the size-derived count of the tiny corpus
    is one directory, which leaves a pruning test nothing to prune."""
    from pyspark.sql import functions as F

    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.pipeline.dedup import _minhash_frames
    from spark_sql_perf_spark.streaming.dedup import write_index_frames

    idx = table(spark, SF_DIR_TINY, "documents").select(
        F.col("doc_id").alias("id"), F.lower("text").alias("text")
    )
    write_index_frames(index_dir, *_minhash_frames(idx), nparts=nparts)


@pytest.fixture(scope="session")
def spark():
    from spark_sql_perf_spark.session import build_session

    import tempfile

    spark = build_session(
        app_name="spark-sql-perf-spark-tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
            # static conf: managed tables (saveAsTable tests) land in tmp
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-"),
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()
