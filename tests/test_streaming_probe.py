"""Streaming incremental near-dup probe (the streaming face of d10):
the at-rest index is built once, each arriving micro-batch is probed
through the same pipeline as the batch query, and the merged target
must (a) converge to EXACTLY the batch d10 answer and (b) be
replay-idempotent — the same file is delivered twice as two
micro-batches and the second pass must not change the table."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_TINY, build_index_at


def test_streaming_probe_matches_batch_and_survives_replay(spark):
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.operators import QUERIES
    from spark_sql_perf_spark.streaming.dedup import (
        build_probe_index,
        streaming_incremental_probe,
    )

    work = tempfile.mkdtemp(prefix="probe-stream-")
    index_dir = os.path.join(work, "index")
    stream_dir = os.path.join(work, "arrivals")
    target_dir = os.path.join(work, "decisions")
    os.makedirs(stream_dir)

    # the arriving batch = d10's planted batch, as a documents-shaped
    # file (full table schema so the stream source reads it verbatim)
    docs = table(spark, SF_DIR_TINY, "documents")
    near = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lower("text"), F.lit(" probe batch suffix")).alias("text"),
        "lang", "source", "n_chars",
    )
    novel = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.lower("text"), r"\s+")), " ").alias(
            "text"
        ),
        "lang", "source", "n_chars",
    )
    batch_file = os.path.join(work, "batch.parquet")
    near.unionAll(novel).coalesce(1).write.parquet(batch_file)
    part = [f for f in os.listdir(batch_file) if f.endswith(".parquet")][0]
    # two staged copies of the SAME batch -> with maxFilesPerTrigger=1
    # the second micro-batch is a full replay of the first
    for copy in ("arrival-0.parquet", "arrival-1.parquet"):
        os.symlink(
            os.path.join(batch_file, part), os.path.join(stream_dir, copy)
        )

    build_probe_index(spark, SF_DIR_TINY, index_dir)
    q = streaming_incremental_probe(
        spark, SF_DIR_TINY, stream_dir, index_dir, target_dir,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    cols = ["batch_id", "n_cand", "n_match", "match_id_min",
            "best_jaccard", "is_novel"]
    got = {
        r["batch_id"]: tuple(r[c] for c in cols[1:])
        for r in spark.read.parquet(target_dir).select(*cols).collect()
    }
    want = {
        r["batch_id"]: tuple(r[c] for c in cols[1:])
        for r in QUERIES["d10_incremental_lsh_probe"](
            spark, SF_DIR_TINY
        ).collect()
    }
    # replay collapsed: one decision per batch doc, equal to batch d10
    assert got == want
    assert any(v[-1] for v in got.values())  # novels present
    assert any(not v[-1] for v in got.values())  # matches present


def test_streaming_probe_grow_index_loop(spark):
    """The full continuous-ingestion loop (grow_index=True): batch A's
    accepted novels join the at-rest index, so batch B's near-dups OF
    THOSE NOVELS match them (not just the original corpus); a
    redelivery of batch A then changes neither the decisions table nor
    the index (self-exclusion + first-decision-wins + guarded append)."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.streaming.dedup import (
        build_probe_index,
        streaming_incremental_probe,
    )

    work = tempfile.mkdtemp(prefix="probe-grow-")
    index_dir = os.path.join(work, "index")
    stream_dir = os.path.join(work, "arrivals")
    target_dir = os.path.join(work, "decisions")
    os.makedirs(stream_dir)
    build_probe_index(spark, SF_DIR_TINY, index_dir)

    docs = table(spark, SF_DIR_TINY, "documents")
    meta = ["lang", "source", "n_chars"]
    # batch A: word-reversed docs — novel vs the corpus, will be indexed
    batch_a = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.lower("text"), r"\s+")), " ").alias(
            "text"
        ),
        *meta,
    )
    # batch B: near-dups OF BATCH A's novels (suffix on the reversed text)
    batch_b = batch_a.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" probe batch suffix")).alias("text"),
        *meta,
    )

    def deliver(df, name):
        path = os.path.join(work, f"{name}.parquet")
        df.coalesce(1).write.parquet(path)
        part = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
        os.symlink(os.path.join(path, part),
                   os.path.join(stream_dir, f"{name}.parquet"))

    def drain(**kw):
        q = streaming_incremental_probe(
            spark, SF_DIR_TINY, stream_dir, index_dir, target_dir,
            max_files_per_trigger=1, grow_index=True, **kw,
        )
        q.awaitTermination(180)

    def decisions():
        return {
            r["batch_id"]: (r["n_match"], r["match_id_min"], r["is_novel"])
            for r in spark.read.parquet(target_dir).collect()
        }

    # r12 ADVICE: an EMPTY first arrival (zero-row file) must be a
    # no-op, not a wedge — the pre-fix merge wrote no bucket partitions
    # and every subsequent batch then died reading the empty target
    deliver(batch_a.limit(0), "arrival-00-empty")
    deliver(batch_a, "arrival-0")
    drain()
    after_a = decisions()
    assert after_a and all(v[2] for v in after_a.values()), after_a  # all novel
    n_a = len(after_a)

    deliver(batch_b, "arrival-1")
    drain()
    after_b = decisions()
    b_rows = {k: v for k, v in after_b.items() if k >= 3_000_000}
    assert len(b_rows) == n_a
    # every B doc matches, and its best match is its OWN batch-A source
    # (id - 1e6) — proof the index grew between batches
    for bid, (n_match, match_id, is_novel) in b_rows.items():
        assert n_match >= 1 and not is_novel, (bid, n_match, is_novel)
        assert match_id == bid - 1_000_000, (bid, match_id)
    # A's stored decisions unchanged
    assert {k: v for k, v in after_b.items() if k < 3_000_000} == after_a

    # redelivery of batch A (same content, new file): nothing changes —
    # and this drain runs the in-loop compaction path (compact_every,
    # folding the grown deltas into the base), which must also change
    # nothing
    from spark_sql_perf_spark.streaming.dedup import read_index_relation

    sigs_before = read_index_relation(spark, index_dir, "sigs").count()
    deliver(batch_a, "arrival-2")
    drain(compact_every=1, compact_max_files=0)
    assert decisions() == after_b
    assert read_index_relation(spark, index_dir, "sigs").count() == sigs_before
    per_id = (
        read_index_relation(spark, index_dir, "sigs")
        .groupBy("id").count().where(F.col("count") > 1).count()
    )
    assert per_id == 0  # no id indexed twice


def test_streaming_quality_cut_matches_batch_semantics(spark):
    """The streaming face of c16: over a twice-delivered file of
    documents with planted repetitive docs and verbatim copies, the
    drained stream must contain exactly one row per distinct SURVIVING
    text — repetitive docs cut (never entering dedup state), copies and
    re-deliveries collapsed — i.e. the same kept-set as the batch cut."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.pipeline.curation import (
        _WS_SPLIT,
        repetition_cut_flag,
    )
    from spark_sql_perf_spark.streaming.dedup import (
        run_stream_append,
        streaming_quality_cut,
    )

    work = tempfile.mkdtemp(prefix="qcut-stream-")
    stream_dir = os.path.join(work, "arrivals")
    os.makedirs(stream_dir)

    docs = table(spark, SF_DIR_TINY, "documents")
    meta = ["lang", "source", "n_chars"]
    base = docs.select("doc_id", F.lower("text").alias("text"), *meta)
    rep = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.trim(
            F.repeat(
                F.concat(
                    F.array_join(F.slice(F.split("text", _WS_SPLIT), 1, 3), " "),
                    F.lit(" "),
                ),
                8,
            )
        ).alias("text"),
        *meta,
    )
    copies = base.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text", *meta
    )
    corpus = base.unionAll(rep).unionAll(copies)
    staged = os.path.join(work, "corpus.parquet")
    corpus.coalesce(1).write.parquet(staged)
    part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
    for copy in ("arrival-0.parquet", "arrival-1.parquet"):  # re-delivery
        os.symlink(os.path.join(staged, part), os.path.join(stream_dir, copy))

    out = streaming_quality_cut(spark, SF_DIR_TINY, stream_dir)
    assert out.isStreaming
    # plan gate: the cut Filter must sit BELOW the stateful dedup
    # operator (cut docs never enter state — the bounded-state claim).
    # analyzed(), not optimizedPlan(): a streaming frame cannot be
    # optimized before writeStream.start, and operator ORDER is a
    # construction property visible at analysis
    plan = out._jdf.queryExecution().analyzed().toString()
    dedup_at = plan.find("DeduplicateWithinWatermark")
    filter_at = plan.find("Filter")
    assert dedup_at != -1 and filter_at != -1, plan
    assert filter_at > dedup_at, plan  # children print below parents
    run_stream_append(out, "qcut_out")
    got = spark.table("qcut_out")

    expected_md5 = {
        r["m"]
        for r in corpus.withColumn("ws", F.split("text", _WS_SPLIT))
        .where(~repetition_cut_flag())
        .select(F.md5("text").alias("m"))
        .distinct()
        .collect()
    }
    got_md5 = [r["content_key"] for r in got.select("content_key").collect()]
    assert len(got_md5) == len(expected_md5)  # exactly-once per text
    assert set(got_md5) == expected_md5
    # the planted repetitive docs were cut BEFORE the stateful operator
    assert got.where(F.col("doc_id") >= 1_000_000).where(
        F.col("doc_id") < 2_000_000
    ).count() == 0


import pytest


@pytest.mark.parametrize(
    "pre_appended",
    [("hashed",), ("sigs",), ("bands",), ("hashed", "sigs"),
     ("hashed", "bands"), ("sigs", "bands")],
    ids=lambda p: "+".join(p),
)
def test_grow_index_append_converges_after_partial_crash(spark, pre_appended):
    """The r11 ADVICE failure mode, driven directly for EVERY partial
    crash state: a crash can leave any proper subset of the three
    relation appends durable. The per-relation guards must converge on
    replay from each one — NO duplicate (id, h) rows in hashed (the
    n_common/jaccard inflation bug), the missing relations caught up
    exactly once — and a subsequent probe must match a near-dup of the
    novel."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.pipeline.dedup import (
        _minhash_frames,
        probe_with_index,
    )
    from spark_sql_perf_spark.streaming.dedup import (
        build_probe_index,
        grow_index_append,
    )

    work = tempfile.mkdtemp(prefix="probe-crash-")
    index_dir = os.path.join(work, "index")
    build_probe_index(spark, SF_DIR_TINY, index_dir)

    docs = table(spark, SF_DIR_TINY, "documents")
    novels = docs.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 4_000_000).alias("id"),
        F.array_join(F.reverse(F.split(F.lower("text"), r"\s+")), " ").alias(
            "text"
        ),
    )
    n_novels = novels.count()
    assert n_novels > 0

    # simulated crash: the pre_appended relations landed, the rest did
    # not — written exactly as grow_index_append writes (one flat file
    # into the relation's __delta sidecar)
    from spark_sql_perf_spark.streaming.dedup import read_index_relation

    frames = dict(zip(("hashed", "sigs", "bands"), _minhash_frames(novels)))
    for rel in pre_appended:
        (
            frames[rel]
            .coalesce(1)
            .write.mode("append")
            .parquet(f"{index_dir}/{rel}__delta")
        )

    # replay: the full guarded append
    grow_index_append(spark, index_dir, novels)

    hashed = read_index_relation(spark, index_dir, "hashed")
    dup_pairs = (
        hashed.groupBy("id", "h").count().where(F.col("count") > 1).count()
    )
    assert dup_pairs == 0  # the pre-fix code would double-append here
    for rel in ("sigs", "bands"):
        per_id = (
            read_index_relation(spark, index_dir, rel)
            .where(F.col("id") >= 4_000_000)
            .groupBy("id", *(["band"] if rel == "bands" else []))
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        assert per_id == 0, rel
    assert (
        read_index_relation(spark, index_dir, "sigs")
        .where(F.col("id") >= 4_000_000)
        .count()
        == n_novels
    )

    # a second replay of the SAME append is a complete no-op
    before = {
        rel: read_index_relation(spark, index_dir, rel).count()
        for rel in ("hashed", "sigs", "bands")
    }
    grow_index_append(spark, index_dir, novels)
    for rel, n in before.items():
        assert read_index_relation(spark, index_dir, rel).count() == n, rel

    # the grown index actually serves: a near-dup of a novel matches it
    probe = novels.select(
        (F.col("id") + 1_000_000).alias("id"),
        F.concat("text", F.lit(" probe batch suffix")).alias("text"),
    )
    got = probe_with_index(
        read_index_relation(spark, index_dir, "hashed"),
        read_index_relation(spark, index_dir, "sigs"),
        read_index_relation(spark, index_dir, "bands").select(
            "id", "band", "bh"
        ),
        probe,
    )
    rows = {r["batch_id"]: r["match_id_min"] for r in got.collect()}
    assert rows and all(m == b - 1_000_000 for b, m in rows.items())


def test_grow_index_append_repairs_partial_band_coverage(spark):
    """r12 ADVICE: an id left with PARTIAL band coverage (a crash on a
    non-rename-atomic object store, or a legacy layout) must be
    REPAIRED by replay, not skipped — the (id, band)-granular bands
    guard anti-joins the new band rows against the live ones, so only
    the missing bands append and none duplicate."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.pipeline.dedup import _minhash_frames
    from spark_sql_perf_spark.streaming.dedup import (
        build_probe_index,
        grow_index_append,
        read_index_relation,
    )

    work = tempfile.mkdtemp(prefix="probe-bands-")
    index_dir = os.path.join(work, "index")
    build_probe_index(spark, SF_DIR_TINY, index_dir)

    docs = table(spark, SF_DIR_TINY, "documents")
    novels = docs.where(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 6_000_000).alias("id"),
        F.array_join(F.reverse(F.split(F.lower("text"), r"\s+")), " ").alias(
            "text"
        ),
    )
    n_novels = novels.count()
    assert n_novels > 0
    _, _, bands = _minhash_frames(novels)
    n_bands_full = bands.count()
    half_bands = bands.where(F.col("band") < 2)  # 2 of the 3 bands
    assert 0 < half_bands.count() < n_bands_full

    # simulated partial state: only bands 0-1 landed for every novel id
    (
        half_bands
        .coalesce(1)
        .write.mode("append")
        .parquet(f"{index_dir}/bands__delta")
    )
    grow_index_append(spark, index_dir, novels)

    live = read_index_relation(spark, index_dir, "bands").where(
        F.col("id") >= 6_000_000
    )
    assert live.count() == n_bands_full  # coverage repaired...
    dup_pairs = (
        live.groupBy("id", "band").count().where(F.col("count") > 1).count()
    )
    assert dup_pairs == 0  # ...without duplicating the bands that landed


def test_probe_at_rest_prunes_index_partitions(spark):
    """r12 VERDICT task 2: the at-rest probe must partition-prune the
    hashed/sigs verification scans to the candidate ids' id_part
    directories — identical decisions to the unpruned probe, with a
    file-level receipt that only the candidate partitions were read.
    The index is built at an explicit 64 parts: the size-derived count
    of the tiny corpus is one directory, which leaves nothing to prune."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.pipeline.dedup import probe_with_index
    from spark_sql_perf_spark.streaming.dedup import (
        _ID_PART,
        _id_part,
        index_file_counts,
        probe_index_at_rest,
    )

    work = tempfile.mkdtemp(prefix="probe-prune-")
    index_dir = os.path.join(work, "index")
    build_index_at(spark, index_dir, 64)

    # a trickle batch: few docs -> few candidate ids -> few id_parts
    docs = table(spark, SF_DIR_TINY, "documents")
    batch = docs.where(F.col("doc_id") % 83 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("id"),
        F.concat(F.lower("text"), F.lit(" probe batch suffix")).alias("text"),
    )
    out, cand = probe_index_at_rest(spark, index_dir, batch)

    cols = ["batch_id", "n_cand", "n_match", "match_id_min", "best_jaccard",
            "is_novel"]
    got = {r["batch_id"]: tuple(r[c] for c in cols[1:])
           for r in out.select(*cols).collect()}
    want = {
        r["batch_id"]: tuple(r[c] for c in cols[1:])
        for r in probe_with_index(
            spark.read.parquet(f"{index_dir}/hashed"),
            spark.read.parquet(f"{index_dir}/sigs"),
            spark.read.parquet(f"{index_dir}/bands").select("id", "band", "bh"),
            batch,
        ).select(*cols).collect()
    }
    assert got == want  # pruning never changes decisions
    assert any(not v[-1] for v in got.values())  # the near-dups matched

    # receipt: the pruned scans read only the candidate partitions
    parts = [
        r[0]
        for r in cand.select(_id_part("idx_id", 64).alias("p")).distinct().collect()
    ]
    assert 0 < len(parts) < 64
    totals = index_file_counts(spark, index_dir)
    for rel in ("hashed", "sigs"):
        read_files = (
            spark.read.parquet(f"{index_dir}/{rel}")
            .where(F.col(_ID_PART).isin(parts))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )
        assert read_files <= len(parts) < totals[rel], (
            rel, read_files, totals[rel]
        )
    # and the probe PLAN carries the partition filter (not a post-scan
    # predicate): the scan nodes prune at the source
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters: [id_part") >= 2, plan


def test_compact_index_preserves_probe_and_cuts_files(spark, monkeypatch):
    """compact_index is the grow-index small-files story: after many
    appended batches (one flat delta file per relation per batch), a
    forced compaction must (a) fold every delta into its base and
    reduce the file count to the size-derived target, (b) leave probe
    results byte-identical, and (c) self-heal a crashed swap on the
    next call — both the base swap (live missing, __old present) and
    the delta stage-aside (delta renamed aside, publish not reached).
    The index is built at 8 parts, so a compaction that re-sizes it to
    the tiny corpus's count (one part) is visible: after a rolled-back
    swap the live base still carries its own count."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.pipeline.dedup import probe_with_index
    from spark_sql_perf_spark.streaming.dedup import (
        compact_index,
        grow_index_append,
        index_file_counts,
        read_index_relation,
        recover_index,
    )

    work = tempfile.mkdtemp(prefix="probe-compact-")
    index_dir = os.path.join(work, "index")
    build_index_at(spark, index_dir, 8)

    docs = table(spark, SF_DIR_TINY, "documents")
    # several grow batches -> one appended delta file per batch per relation
    for k in range(4):
        novels = docs.where(F.col("doc_id") % 17 == k).select(
            (F.col("doc_id") + (5 + k) * 1_000_000).alias("id"),
            F.concat(F.lower("text"), F.lit(f" grown batch {k}")).alias("text"),
        )
        grow_index_append(spark, index_dir, novels)
    assert os.path.isdir(f"{index_dir}/sigs__delta")

    def read_index():
        return (
            read_index_relation(spark, index_dir, "hashed"),
            read_index_relation(spark, index_dir, "sigs"),
            read_index_relation(spark, index_dir, "bands").select(
                "id", "band", "bh"
            ),
        )

    probe = docs.where(F.col("doc_id") % 17 == 1).select(
        (F.col("doc_id") + 9_000_000).alias("id"),
        F.concat(
            F.lower("text"), F.lit(" grown batch 1 probe suffix")
        ).alias("text"),
    )
    cols = ["batch_id", "n_cand", "n_match", "match_id_min", "best_jaccard",
            "is_novel"]
    before_files = index_file_counts(spark, index_dir)
    want = {
        r["batch_id"]: tuple(r[c] for c in cols[1:])
        for r in probe_with_index(*read_index(), probe).collect()
    }
    assert any(v[1] >= 1 for v in want.values())  # matches grown docs

    # a re-sizing compaction that crashes at its publish rename (the
    # first relation's tmp -> base): the tmp holds the re-sized base,
    # the delta and the live base are staged aside. recover_index rolls
    # back to the original base, which must carry ITS count, so a
    # pruned probe reduces its keys mod 8 and decides exactly as before
    import shutil

    from spark_sql_perf_spark import memo
    from spark_sql_perf_spark.streaming import dedup

    fs, Path = dedup._index_fs(spark, index_dir)

    class FailPublish:
        def rename(self, src, dst):
            return not src.getName().endswith("__compact_tmp") and fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(fs, name)

    monkeypatch.setattr(dedup, "_index_fs", lambda *_: (FailPublish(), Path))
    with pytest.raises(IOError, match="could not publish"):
        compact_index(spark, index_dir, max_files=0)
    monkeypatch.undo()
    assert dedup._recorded_parts(fs, Path, f"{index_dir}/hashed__compact_tmp") == 1
    assert not os.path.exists(f"{index_dir}/hashed")
    recover_index(spark, index_dir)
    assert dedup._recorded_parts(fs, Path, f"{index_dir}/hashed") == 8
    assert os.path.isdir(f"{index_dir}/hashed__delta")
    assert not os.path.exists(f"{index_dir}/hashed__compact_tmp")
    pruned, cand = dedup.probe_index_at_rest(spark, index_dir, probe)
    try:
        got0 = {
            r["batch_id"]: tuple(r[c] for c in cols[1:])
            for r in pruned.select(*cols).collect()
        }
    finally:
        memo.release(cand)
    assert got0 == want

    compacted = compact_index(spark, index_dir, max_files=0)  # force all
    after_files = index_file_counts(spark, index_dir)
    assert set(compacted) == {"hashed", "sigs", "bands"}
    for rel in ("hashed", "sigs"):
        assert after_files[rel] < before_files[rel], (rel, after_files)
        assert not os.path.exists(f"{index_dir}/{rel}__delta")  # folded
    assert after_files["bands"] <= before_files["bands"]

    got = {
        r["batch_id"]: tuple(r[c] for c in cols[1:])
        for r in probe_with_index(*read_index(), probe).collect()
    }
    assert got == want  # probe results unchanged by compaction

    # crashed-swap recovery: live relation gone, __old holds the copy
    shutil.move(f"{index_dir}/sigs", f"{index_dir}/sigs__old")
    compact_index(spark, index_dir, max_files=10**9)  # recovery-only pass
    assert os.path.isdir(f"{index_dir}/sigs")
    assert not os.path.exists(f"{index_dir}/sigs__old")
    got2 = {
        r["batch_id"]: tuple(r[c] for c in cols[1:])
        for r in probe_with_index(*read_index(), probe).collect()
    }
    assert got2 == want

    # delta stage-aside recovery (crash between the delta rename and the
    # base publish: delta__old present, tmp complete, base unchanged) —
    # recover_index must roll the delta BACK, not lose or double it
    novels5 = docs.where(F.col("doc_id") % 17 == 5).select(
        (F.col("doc_id") + 11_000_000).alias("id"),
        F.concat(F.lower("text"), F.lit(" grown batch 5")).alias("text"),
    )
    grow_index_append(spark, index_dir, novels5)
    want_sigs = read_index_relation(spark, index_dir, "sigs").count()
    shutil.move(f"{index_dir}/sigs__delta", f"{index_dir}/sigs__delta__old")
    shutil.copytree(f"{index_dir}/sigs", f"{index_dir}/sigs__compact_tmp")
    recover_index(spark, index_dir)
    assert os.path.isdir(f"{index_dir}/sigs__delta")
    assert not os.path.exists(f"{index_dir}/sigs__delta__old")
    assert not os.path.exists(f"{index_dir}/sigs__compact_tmp")
    assert read_index_relation(spark, index_dir, "sigs").count() == want_sigs


def _all_jobs(spark):
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    it = jobs.iterator()
    while it.hasNext():
        yield it.next()


def _described(jobs, seen: set) -> list[tuple]:
    """(description, job group) of each job not in ``seen``."""
    return [
        (
            j.description().get() if j.description().isDefined() else None,
            j.jobGroup().get() if j.jobGroup().isDefined() else None,
        )
        for j in jobs
        if j.jobId() not in seen
    ]


@pytest.fixture(scope="module")
def mixed_drain(spark):
    """One arrival through the grow loop: near-dups of corpus docs
    (suffix) mixed with fresh word-reversed novels. Returns the index
    rows per relation before and after, the stored decisions, and the
    (description, job group) of every job the drain ran."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.streaming.dedup import (
        build_probe_index,
        read_index_relation,
        streaming_incremental_probe,
    )

    work = tempfile.mkdtemp(prefix="probe-mixed-")
    index_dir = os.path.join(work, "index")
    stream_dir = os.path.join(work, "arrivals")
    target_dir = os.path.join(work, "decisions")
    os.makedirs(stream_dir)
    build_probe_index(spark, SF_DIR_TINY, index_dir)

    docs = table(spark, SF_DIR_TINY, "documents")
    meta = ["lang", "source", "n_chars"]
    near = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lower("text"), F.lit(" probe batch suffix")).alias("text"),
        *meta,
    )
    novel = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.lower("text"), r"\s+")), " ").alias("text"),
        *meta,
    )
    path = os.path.join(work, "mixed.parquet")
    near.unionAll(novel).coalesce(1).write.parquet(path)
    part = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
    os.symlink(os.path.join(path, part), os.path.join(stream_dir, "arrival-0.parquet"))

    def index_rows():
        return {
            rel: [tuple(r) for r in read_index_relation(spark, index_dir, rel).collect()]
            for rel in ("hashed", "sigs", "bands")
        }

    before = index_rows()
    seen = {j.jobId() for j in _all_jobs(spark)}
    q = streaming_incremental_probe(
        spark, SF_DIR_TINY, stream_dir, index_dir, target_dir,
        max_files_per_trigger=1, grow_index=True,
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    jobs = _described(_all_jobs(spark), seen)
    decided = {
        r["batch_id"]: r["is_novel"]
        for r in spark.read.parquet(target_dir).select("batch_id", "is_novel").collect()
    }
    return {
        "before": before,
        "after": index_rows(),
        "decided": decided,
        "jobs": jobs,
        "run_id": str(q.runId),
    }


def test_grow_loop_indexes_exactly_the_novels_of_a_mixed_arrival(mixed_drain):
    """The append reuses the minhash frames of the WHOLE batch, so only
    the stored novel ids keep near-dups out of the index: every
    relation grows by exactly the ids decided novel, and no id (or
    (id, h), (id, band) row) is indexed twice."""
    decided, before, after = (mixed_drain[k] for k in ("decided", "before", "after"))
    novel = {i for i, is_novel in decided.items() if is_novel}
    assert novel and len(novel) < len(decided)  # both kinds in one arrival
    assert any(i < 2_000_000 for i in decided if not decided[i])  # near-dups matched
    for rel in ("hashed", "sigs", "bands"):
        added = {row[0] for row in after[rel]} - {row[0] for row in before[rel]}
        assert added == novel, rel
        assert set(before[rel]) <= set(after[rel]), rel
    assert len(after["sigs"]) == len({r[0] for r in after["sigs"]})
    assert len(after["hashed"]) == len(set(after["hashed"]))
    assert len(after["bands"]) == len({r[:2] for r in after["bands"]})


def test_grow_loop_names_every_spark_job(mixed_drain):
    """Every job the loop's foreachBatch submits (the streaming query's
    job group) carries a step name, so a run can group its jobs by
    step."""
    import re

    applied = [d for d, group in mixed_drain["jobs"] if group == mixed_drain["run_id"]]
    assert applied
    step = re.compile(r"(batch|probe|merge|grow|compact)\.[a-z.]+")
    unnamed = [d for d in applied if not step.fullmatch(d or "")]
    assert not unnamed, unnamed
    assert {
        "batch.minhash", "probe.cand", "probe.decide", "merge.write",
        "grow.novels", "grow.guard", "grow.append.hashed", "grow.append.sigs",
        "grow.append.bands",
    } <= set(applied)


def test_grow_loop_micro_batch_job_budget(mixed_drain):
    """A plain micro-batch runs at most 26 Spark jobs, and no bounded
    id_part list costs a job of its own: both ride the job that
    materializes their source frame."""
    applied = [d for d, group in mixed_drain["jobs"] if group == mixed_drain["run_id"]]
    assert len(applied) <= 26, sorted(applied)
    assert not {"probe.parts", "grow.parts"} & set(applied), sorted(applied)
    assert applied.count("probe.decide") <= 6, sorted(applied)


def test_grow_loop_replay_writes_no_empty_delta_file(spark):
    """A whole-file redelivery whose novels are all indexed already runs
    no append job and leaves no 0-row file in any delta sidecar (such a
    file would count toward compaction's threshold)."""
    import glob

    import pyarrow.parquet as pq

    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.streaming.dedup import (
        build_probe_index,
        streaming_incremental_probe,
    )

    work = tempfile.mkdtemp(prefix="probe-replay-")
    index_dir = os.path.join(work, "index")
    stream_dir = os.path.join(work, "arrivals")
    target_dir = os.path.join(work, "decisions")
    os.makedirs(stream_dir)
    build_probe_index(spark, SF_DIR_TINY, index_dir)
    docs = table(spark, SF_DIR_TINY, "documents")
    novels = docs.where(F.col("doc_id") % 23 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.lower("text"), r"\s+")), " ").alias("text"),
        "lang", "source", "n_chars",
    )
    path = os.path.join(work, "novels.parquet")
    novels.coalesce(1).write.parquet(path)
    part = [f for f in os.listdir(path) if f.endswith(".parquet")][0]

    def drain(name: str) -> list[str]:
        os.symlink(os.path.join(path, part), os.path.join(stream_dir, name))
        seen = {j.jobId() for j in _all_jobs(spark)}
        q = streaming_incremental_probe(
            spark, SF_DIR_TINY, stream_dir, index_dir, target_dir,
            max_files_per_trigger=1, grow_index=True,
        )
        q.awaitTermination(180)
        assert q.exception() is None, q.exception()
        return [d for d, group in _described(_all_jobs(spark), seen) if group == str(q.runId)]

    first = drain("arrival-0.parquet")
    assert {"grow.append.hashed", "grow.append.sigs", "grow.append.bands"} <= set(first)
    replayed = drain("arrival-1.parquet")
    assert "grow.guard" in replayed  # the redelivery did reach the append step
    assert not [d for d in replayed if d and d.startswith("grow.append.")], replayed
    files = glob.glob(os.path.join(index_dir, "*__delta", "*.parquet"))
    assert len(files) == 3, files  # one per relation, from the first drain
    assert all(pq.read_metadata(f).num_rows > 0 for f in files), [
        (f, pq.read_metadata(f).num_rows) for f in files
    ]
