"""Exactly-once-effective streaming upsert sink over plain parquet.

The reference's harness only appends results (results sink,
Benchmark.scala resultsLocation); a continuously-ingesting training-data
pipeline also needs MERGE/upsert — late corrections, re-crawled
documents, profile updates. Without a table format (no Delta/Iceberg in
this container) the scalable parquet-only construction is:

- target partitioned by a hash bucket of the merge key, so
- a micro-batch only touches the buckets its keys fall in, and
- ``partitionOverwriteMode=dynamic`` replaces exactly those buckets
  (merge existing bucket rows with the batch, last version per key
  wins). Per-bucket replace commits as delete-then-rename, so there IS
  a crash window in which a bucket directory is missing; durable
  exactly-once under mid-commit crashes additionally needs a table
  format (Delta/Iceberg) or an external commit marker. What the plain-
  parquet construction does guarantee: batch REPLAY (the streaming
  failure mode — foreachBatch re-delivers the last uncommitted batch)
  recomputes byte-identical bucket contents, so at-least-once delivery
  converges to exactly-once table state.

Cost per batch is O(touched buckets), not O(target): at 100 TB the
bucket count is sized so a bucket ~ a few GB, and a batch touching k
distinct buckets rewrites k·(bucket size) — the same asymptotics as a
copy-on-write MERGE in Delta/Iceberg (Delta's OPTIMIZE/partition
rewrite does exactly this underneath).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..metrics import job_step
from .windows import stream_events

_BUCKET = "_bucket"


def _with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(_BUCKET, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))


def _target_has_buckets(spark: SparkSession, target_dir: str) -> bool:
    """Does the target already hold a bucketed table? Probed through the
    Hadoop FileSystem API (JVM gateway), NOT driver-local os.listdir —
    the target at scale is an object store (s3a://, abfss://), where a
    POSIX probe would silently answer 'empty' and the merge would drop
    the existing table state."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(target_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    for status in fs.listStatus(path):
        if status.getPath().getName().startswith(f"{_BUCKET}="):
            return True
    return False


def merge_into_buckets(
    batch_df: DataFrame,
    target_dir: str,
    bucket_key: str,
    dedupe,
    n_buckets: int = 16,
) -> list[int] | None:
    """The shared touched-buckets MERGE machinery: bucket the batch,
    read ONLY the buckets its keys fall in, union with the batch (rows
    carry ``_is_new`` 1/0), apply ``dedupe`` (DataFrame -> DataFrame
    winner-picker), and dynamic-partition-overwrite exactly the touched
    buckets. The conf save/set/restore and the delete-then-rename commit
    subtleties live HERE once — both the upsert sink and the SCD2
    CDC-apply ride the same code path.

    The target holds exactly what this merge writes (the batch's
    columns plus ``_bucket``), so the existing buckets are read with
    the bucketed batch's schema: no footer-inference job per merge.

    Returns the touched buckets it collected, or None when the target
    held no buckets yet (then the target now holds this batch alone),
    so a caller reading the merged rows back needs no second collect."""
    spark = batch_df.sparkSession
    batch = _with_bucket(batch_df, bucket_key, n_buckets)
    touched = None
    if _target_has_buckets(spark, target_dir):
        with job_step(spark, "merge.touched"):
            # one partition: the distinct needs no exchange, so one job
            touched = [
                r[0] for r in batch.select(_BUCKET).coalesce(1).distinct().collect()
            ]
        if not touched:
            return touched
        existing = (
            spark.read.schema(batch.schema)
            .parquet(target_dir)
            .where(F.col(_BUCKET).isin(touched))
            .withColumn("_is_new", F.lit(0))
        )
        merged = existing.unionByName(batch.withColumn("_is_new", F.lit(1)))
    else:
        merged = batch.withColumn("_is_new", F.lit(1))
    winners = dedupe(merged).drop("_is_new")
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        with job_step(spark, "merge.write"):
            (
                winners.repartition(max(1, min(n_buckets, 8)), _BUCKET)
                .write.mode("overwrite")
                .partitionBy(_BUCKET)
                .parquet(target_dir)
            )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
    return touched


def upsert_parquet_batch(
    batch_df: DataFrame,
    target_dir: str,
    key: str,
    version_col: str,
    n_buckets: int = 16,
    tiebreak_cols: tuple[str, ...] = (),
) -> None:
    """MERGE ``batch_df`` into the bucket-partitioned parquet target:
    per key, the row with the highest ``version_col`` wins (ties break
    toward the incoming batch, then by ``tiebreak_cols`` descending —
    pass a unique column there so equal-version replays stay
    deterministic). Only buckets containing batch keys are read or
    rewritten."""

    def latest_version_wins(merged: DataFrame) -> DataFrame:
        w = Window.partitionBy(key).orderBy(
            F.col(version_col).desc(),
            F.col("_is_new").desc(),
            *[F.col(c).desc() for c in tiebreak_cols],
        )
        return (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    merge_into_buckets(batch_df, target_dir, key, latest_version_wins, n_buckets)


def initialize_upsert_target(
    df: DataFrame, target_dir: str, key: str, n_buckets: int = 16
) -> None:
    """Bulk-load the initial table state in the bucketed layout the
    incremental upserts expect (one shuffle, one file per bucket)."""
    (
        _with_bucket(df, key, n_buckets)
        .repartition(n_buckets, _BUCKET)
        .write.mode("overwrite")
        .partitionBy(_BUCKET)
        .parquet(target_dir)
    )


def read_upsert_target(spark: SparkSession, target_dir: str) -> DataFrame:
    """Current table state (bucket column dropped)."""
    return spark.read.parquet(target_dir).drop(_BUCKET)


def streaming_upsert(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str,
    target_dir: str,
    n_buckets: int = 16,
) -> None:
    """Drain the events stream into the upsert target keyed by user_id:
    the table converges to each user's latest event by event time, no
    matter how batches are sliced or replayed."""
    ev = stream_events(spark, sf_dir, stream_dir)

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        upsert_parquet_batch(
            batch_df, target_dir, key="user_id", version_col="ts",
            n_buckets=n_buckets, tiebreak_cols=("event_id",),
        )

    q = (
        ev.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{target_dir}_ckpt")
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            "streaming_upsert: availableNow drain exceeded 120s — stopped "
            "the query instead of returning over a partially-updated table"
        )
