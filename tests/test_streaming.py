"""Structured Streaming smoke: the tumbling-window transformation produces
identical results on a true stream (file source + watermark + AvailableNow
trigger) and in batch."""

from __future__ import annotations

import os
import tempfile

from tests.conftest import SF_DIR_TINY


def test_streaming_tumbling_matches_batch(spark):
    from spark_sql_perf_spark.operators import QUERIES
    from spark_sql_perf_spark.streaming.windows import (
        run_stream_once,
        streaming_tumbling,
    )

    # file stream source watches a directory; stage the single-file table
    stream_dir = tempfile.mkdtemp(prefix="events-stream-")
    os.symlink(
        f"{SF_DIR_TINY}/events.parquet", os.path.join(stream_dir, "part-0.parquet")
    )
    stream_df = streaming_tumbling(spark, SF_DIR_TINY, stream_dir)
    assert stream_df.isStreaming
    run_stream_once(stream_df, "stream_tumbling_out")

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("stream_tumbling_out").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in QUERIES["e1_tumbling_window"](spark, SF_DIR_TINY).collect()
    }
    assert got == want


def test_streaming_dedup_survives_redelivery(spark):
    """dropDuplicatesWithinWatermark on row identity: the stream source
    re-delivers the whole file (two staged copies — an at-least-once
    upstream), and exactly one row per identity survives, matching the
    batch table."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.streaming.dedup import (
        content_key,
        run_stream_append,
        streaming_dedup,
    )

    stream_dir = tempfile.mkdtemp(prefix="events-dedup-")
    for copy in ("part-0.parquet", "part-1.parquet"):
        os.symlink(
            f"{SF_DIR_TINY}/events.parquet", os.path.join(stream_dir, copy)
        )
    out = streaming_dedup(spark, SF_DIR_TINY, stream_dir)
    assert out.isStreaming
    run_stream_append(out, "stream_dedup_out")

    got = spark.table("stream_dedup_out")
    batch = content_key(table(spark, SF_DIR_TINY, "events"))
    n_rows = batch.count()
    # input was delivered twice; output is exactly-once
    assert got.count() == n_rows
    assert got.select("content_key").distinct().count() == n_rows
    assert (
        got.select("content_key").subtract(batch.select("content_key")).count() == 0
    )


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream attribution join (watermarks both sides + time-range
    condition): over a single AvailableNow drain the joined rows equal
    the batch twin with the identical condition, and the match set is
    non-trivial."""
    from spark_sql_perf_spark.streaming.dedup import run_stream_append
    from spark_sql_perf_spark.streaming.joins import (
        batch_attribution,
        streaming_attribution,
    )

    stream_dir = tempfile.mkdtemp(prefix="events-attrib-")
    os.symlink(
        f"{SF_DIR_TINY}/events.parquet", os.path.join(stream_dir, "part-0.parquet")
    )
    out = streaming_attribution(spark, SF_DIR_TINY, stream_dir)
    assert out.isStreaming
    run_stream_append(out, "stream_attrib_out")

    got = spark.table("stream_attrib_out")
    want = batch_attribution(spark, SF_DIR_TINY)
    n_want = want.count()
    assert n_want > 0, "attribution window matched nothing — fixture drifted"
    assert got.count() == n_want
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_multimodal_decode_is_distributed(spark):
    """mapInPandas plumbing: schema is typed, rows flow through Arrow
    batches, payload bytes round-trip."""
    from spark_sql_perf_spark.pipeline.multimodal import decode_metadata

    df = decode_metadata(spark, SF_DIR_TINY)
    rows = df.collect()
    assert len(rows) == 500
    assert all(r.n_bytes > 0 and 16 <= r.width < 80 for r in rows)


def test_watermark_drops_late_data(spark):
    """Watermark semantics: an event older than the watermark arriving in a
    later micro-batch is DROPPED from its (already finalized) window."""
    import pandas as pd
    from pyspark.sql import functions as F

    stage = tempfile.mkdtemp(prefix="late-data-")
    src = tempfile.mkdtemp(prefix="late-src-")
    # batch 0: on-time events 10:00..20:00 (watermark after batch = 18:00)
    b0 = pd.DataFrame(
        {"ts": pd.to_datetime([f"2024-01-01 {h:02d}:30:00" for h in range(10, 21)]),
         "v": [1.0] * 11}
    )
    # batch 1: one LATE event at 12:45 (< 18:00 watermark -> dropped) and
    # one on-time at 20:45
    b1 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 12:45:00", "2024-01-01 20:45:00"]),
         "v": [100.0, 1.0]}
    )
    # microsecond timestamps: Spark's reader rejects parquet NANOS
    b0["ts"] = b0["ts"].astype("datetime64[us]")
    b1["ts"] = b1["ts"].astype("datetime64[us]")
    b0.to_parquet(f"{stage}/b0.parquet")
    b1.to_parquet(f"{stage}/b1.parquet")
    os.symlink(f"{stage}/b0.parquet", f"{src}/000.parquet")

    ckpt = tempfile.mkdtemp(prefix="late-ckpt-")
    sink = tempfile.mkdtemp(prefix="late-sink-")
    schema = spark.read.parquet(f"{src}/000.parquet").schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> LTZ
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .select(F.col("w.start").alias("ws"), "n", "s")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: only batch-0 file exists; watermark persists in the checkpoint
    run_once()
    # run 2: the late file arrives AFTER the watermark advanced past 18:30
    os.symlink(f"{stage}/b1.parquet", f"{src}/001.parquet")
    run_once()

    got = {
        r.ws.strftime("%H:%M"): (r.n, r.s)
        for r in spark.read.parquet(sink).collect()
    }
    # the 12:00 window was finalized before the late event arrived: count
    # stays 1 and the late 100.0 never lands
    assert got["12:00"] == (1, 1.0), got
    # windows still above the final watermark are unemitted in append mode
    assert "20:00" not in got


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-static enrichment (stateless broadcast join per
    micro-batch): an AvailableNow drain equals the batch twin, keeps
    every event (left join), and the static side broadcasts."""
    from spark_sql_perf_spark.streaming.dedup import run_stream_append
    from spark_sql_perf_spark.streaming.joins import (
        batch_enrichment,
        streaming_enrichment,
    )

    stream_dir = tempfile.mkdtemp(prefix="events-enrich-")
    os.symlink(
        f"{SF_DIR_TINY}/events.parquet", os.path.join(stream_dir, "part-0.parquet")
    )
    out = streaming_enrichment(spark, SF_DIR_TINY, stream_dir)
    assert out.isStreaming
    run_stream_append(out, "stream_enrich_out")

    got = spark.table("stream_enrich_out")
    want = batch_enrichment(spark, SF_DIR_TINY)
    n_events = spark.read.parquet(f"{SF_DIR_TINY}/events.parquet").count()
    assert want.count() == n_events  # left join drops nothing
    assert got.count() == n_events
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert "BroadcastHashJoin" in (
        want._jdf.queryExecution().executedPlan().toString()
    )


def test_streaming_upsert_sink_converges_and_is_idempotent(spark):
    """foreachBatch upsert into a bucket-partitioned parquet target:
    (1) the table converges to the latest event per user, (2) replaying
    a batch changes nothing (exactly-once-effective), (3) an incremental
    batch rewrites only the buckets it touches."""
    import glob
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.streaming.sink import (
        read_upsert_target,
        streaming_upsert,
        upsert_parquet_batch,
    )

    stream_dir = tempfile.mkdtemp(prefix="events-upsert-")
    target_dir = os.path.join(tempfile.mkdtemp(prefix="upsert-target-"), "t")
    shutil.copyfile(
        f"{SF_DIR_TINY}/events.parquet", os.path.join(stream_dir, "part-0.parquet")
    )
    streaming_upsert(spark, SF_DIR_TINY, stream_dir, target_dir, n_buckets=8)

    ev = table(spark, SF_DIR_TINY, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expected = (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "event_id")
    )
    got = read_upsert_target(spark, target_dir).select("user_id", "event_id")
    assert got.count() == expected.count() == ev.select("user_id").distinct().count()
    assert got.subtract(expected).count() == 0

    # replay the whole batch: idempotent table state
    upsert_parquet_batch(
        ev, target_dir, key="user_id", version_col="ts",
        n_buckets=8, tiebreak_cols=("event_id",),
    )
    assert read_upsert_target(spark, target_dir).select("user_id", "event_id") \
        .subtract(expected).count() == 0

    # incremental batch for ONE user, newer than everything: only that
    # user's bucket is rewritten, other bucket files stay untouched
    before = {f: os.path.getsize(f) for f in glob.glob(f"{target_dir}/*/*.parquet")}
    one = ev.orderBy("user_id").limit(1).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 365 DAYS")
    ).withColumn("value", F.lit(999.0))
    upsert_parquet_batch(
        one, target_dir, key="user_id", version_col="ts",
        n_buckets=8, tiebreak_cols=("event_id",),
    )
    uid = one.collect()[0]["user_id"]
    got2 = read_upsert_target(spark, target_dir)
    assert got2.where(F.col("user_id") == uid).collect()[0]["value"] == 999.0
    assert got2.count() == expected.count()
    bucket = spark.createDataFrame([(uid,)], "user_id long").select(
        F.pmod(F.xxhash64("user_id"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    untouched = [
        f for f in before
        if os.path.exists(f) and f"_bucket={bucket}" not in f
    ]
    assert untouched, "expected at least one untouched bucket file to remain"
    for f in untouched:
        assert os.path.getsize(f) == before[f]


def test_stream_stream_left_outer_emits_after_watermark(spark):
    """Left-outer attribution: unmatched views emit exactly once WITH
    NULL purchase columns, and only after the watermark passes their
    join window. Driven as three AvailableNow drains over one durable
    checkpoint: natural events first, then two far-future sentinel
    files whose only job is to push both sides' watermarks past every
    natural view's window end. Final table == the batch left-join twin."""
    import glob
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from spark_sql_perf_spark.streaming.joins import (
        batch_attribution_outer,
        streaming_attribution_outer,
    )

    stream_dir = tempfile.mkdtemp(prefix="events-outer-src-")
    out_dir = tempfile.mkdtemp(prefix="events-outer-out-") + "/t"
    ckpt = tempfile.mkdtemp(prefix="events-outer-ckpt-")
    os.symlink(
        f"{SF_DIR_TINY}/events.parquet", os.path.join(stream_dir, "part-0.parquet")
    )

    def drain():
        out = streaming_attribution_outer(spark, SF_DIR_TINY, stream_dir)
        q = (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    drain()  # natural data: inner matches emit, tail views still in state

    raw = spark.read.parquet(f"{SF_DIR_TINY}/events.parquet")
    ts_is_long = isinstance(raw.schema["ts"].dataType, LongType)
    for i, days in enumerate((30, 60)):
        shift = (
            F.col("ts") + F.lit(days * 86400 * 10**9)
            if ts_is_long
            else F.col("ts") + F.expr(f"INTERVAL {days} DAYS")
        )
        # one future view + one future purchase so BOTH watermark nodes
        # advance (the join's eviction watermark is the min of the two)
        sentinel = (
            raw.where(F.col("event_type") == "view").limit(1)
            .unionAll(raw.where(F.col("event_type") == "purchase").limit(1))
            .withColumn("ts", shift)
            .withColumn("user_id", F.when(F.col("event_type") == "view", -1).otherwise(-2).cast("long"))
        )
        stage = tempfile.mkdtemp(prefix="events-outer-sentinel-")
        sentinel.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.move(part, os.path.join(stream_dir, f"sentinel-{i}.parquet"))
        drain()

    got = spark.read.parquet(out_dir).where(F.col("user_id") >= 0)
    want = batch_attribution_outer(spark, SF_DIR_TINY)
    n_null = want.where(F.col("purchase_ts").isNull()).count()
    assert n_null > 0, "no unconverted views — fixture drifted"
    assert got.where(F.col("purchase_ts").isNull()).count() == n_null
    assert got.count() == want.count()  # exactly once, no re-emission
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_scd2_apply_matches_batch_and_is_idempotent(spark):
    """CDC-to-SCD2 apply: (1) after a multi-batch drain with a run SPLIT
    across the micro-batch boundary, the collapse-on-read dimension
    equals the batch cdc1 operator exactly; (2) replaying a batch leaves
    the dimension unchanged (run rows dedupe on their first-event
    identity)."""
    import shutil

    from pyspark.sql import functions as F

    from spark_sql_perf_spark.catalog import _ts_as_timestamp
    from spark_sql_perf_spark.operators import QUERIES
    from spark_sql_perf_spark.streaming.cdc import (
        read_scd2_dimension,
        scd2_apply_batch,
        streaming_scd2_apply,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF_DIR_TINY}/events.parquet")
    ts = _ts_as_timestamp(ev)
    lo, hi = ev.select(F.min(ts), F.max(ts)).first()
    cut = lo + (hi - lo) / 2
    stream_dir = tempfile.mkdtemp(prefix="events-scd2-")
    target_dir = os.path.join(tempfile.mkdtemp(prefix="scd2-target-"), "t")
    halves = [ev.where(ts < F.lit(cut)), ev.where(ts >= F.lit(cut))]
    for i, part in enumerate(halves):
        pdir = os.path.join(stream_dir, f"in{i}")
        part.coalesce(1).write.mode("overwrite").parquet(pdir)
        src = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
        dst = os.path.join(stream_dir, f"part-{i}.parquet")
        os.rename(os.path.join(pdir, src), dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
        shutil.rmtree(pdir)

    streaming_scd2_apply(
        spark, SF_DIR_TINY, stream_dir, target_dir,
        n_buckets=8, max_files_per_trigger=1,
    )

    def snap(df):
        return {
            (r.user_id, r.valid_from): (r.event_type, r.valid_to, r.n_events)
            for r in df.collect()
        }

    got = snap(read_scd2_dimension(spark, target_dir))
    want = snap(QUERIES["cdc1_scd2_compress"](spark, SF_DIR_TINY))
    assert got == want

    # a boundary-split run exists (otherwise the merge path was untested):
    # some user has events on both sides of the cut with the same type
    # adjacent to the boundary — verified by the stored runs exceeding
    # the dimension's row count
    stored_runs = spark.read.parquet(target_dir).count()
    assert stored_runs > len(want)

    # replay the second half verbatim: dedupe on (user_id, ord_id) must
    # make it a no-op
    batch2 = halves[1].withColumn("ts", ts).select(
        "user_id", "event_type", "ts", "event_id"
    )
    scd2_apply_batch(batch2, target_dir, n_buckets=8)
    assert snap(read_scd2_dimension(spark, target_dir)) == want


def test_streaming_ann_serve_matches_batch(spark):
    """Streaming ANN serving: the query stream probed per micro-batch
    against the static adaptive-bucketed index yields EXACTLY the rows
    the same expression produces in one batch over all queries — batch
    slicing is invisible because serving is stateless per query. Every
    query finds its split-bucket home via the multi-key probe (the
    corpus at sf0.001 has split buckets at the shared cap). Params are
    PINNED to the oracle-scale constants on both sides: the server's
    default is sized_params (production rule, no splits at this corpus
    size), and the equivalence needs both sides in one key space with
    the split path exercised."""
    import shutil

    from pyspark.sql import functions as F

    from spark_sql_perf_spark import memo
    from spark_sql_perf_spark.functions.lsh import LshParams
    from spark_sql_perf_spark.pipeline.similarity import embedding_dim
    from spark_sql_perf_spark.streaming.ann import (
        ann_serve_batch,
        build_ann_index,
        streaming_ann_serve,
    )

    emb = spark.read.parquet(f"{SF_DIR_TINY}/embeddings.parquet")
    stream_dir = tempfile.mkdtemp(prefix="ann-queries-")
    out_dir = os.path.join(tempfile.mkdtemp(prefix="ann-serve-"), "out")
    # two query files -> two micro-batches with maxFilesPerTrigger=1
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
        spark, SF_DIR_TINY, stream_dir, out_dir, k=3, max_files_per_trigger=1,
        params=LshParams(),
    )

    got = {
        (r.query_id, r.rn): (r.neighbor_id, r.cosine)
        for r in spark.read.parquet(out_dir).collect()
    }
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dim = embedding_dim(corpus)
    index = build_ann_index(corpus, dim)  # default = oracle-scale LshParams()
    want = {
        (r.query_id, r.rn): (r.neighbor_id, r.cosine)
        for r in ann_serve_batch(corpus, index).collect()
    }
    memo.release(index.df)
    assert got == want and len(got) > 0
