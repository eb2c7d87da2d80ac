"""Streaming exact deduplication — the streaming face of the d1 dedup
family, for a training-data pipeline that ingests documents/events
continuously instead of in batch.

``dropDuplicatesWithinWatermark`` is the idiomatic Structured Streaming
operator here: state for a key is retained only for the watermark delay
(bounded state — the property that lets this run forever at 100 TB/day),
and any duplicate arriving within that window is suppressed. The key is
a content hash of the full row identity, which turns an at-least-once
upstream (re-delivered files, replayed batches — the normal failure
mode of large ingest) into exactly-once rows downstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import memo
from ..metrics import job_step
from ..operators.registry import query
from ..plans.layout import MAX_PARTS, sized_parts
from ..pipeline.dedup import (
    _N_HASHES,
    _bands_from_sigs,
    _minhash_frames,
    _minhash_hashed,
    _sigs_from_hashed,
    probe_candidates,
    probe_with_index,
)
from .sink import _BUCKET, merge_into_buckets
from .windows import stream_events

# bucket count shared by the decision merge and the bucket-pruned
# stored-novel read in the grow loop — they must agree or the pruned
# read silently misses buckets
_N_DECISION_BUCKETS = 16


def content_key(df: DataFrame) -> DataFrame:
    """Attach the row-identity hash over every payload column including
    the timestamp, so a re-delivered row collapses no matter which
    file/batch carried it. ``xxhash64`` hashes each column with its type
    and null-ness intact — unlike a ``concat_ws`` string (which silently
    drops NULL fields and lets a delimiter inside a value alias two
    different rows), distinct rows cannot collide by construction here
    short of an actual 64-bit hash collision."""
    return df.withColumn(
        "content_key",
        F.xxhash64(
            F.col("event_id"), F.col("ts"), F.col("user_id"),
            F.col("event_type"), F.col("value"), F.col("props"),
        ),
    )


def streaming_dedup(
    spark: SparkSession, sf_dir: str, stream_dir: str, delay: str = "2 hours"
) -> DataFrame:
    """events as a stream, deduplicated on content identity within a
    watermark: state per key lives for ``delay`` of event time, then is
    dropped — bounded state, append output."""
    ev = stream_events(spark, sf_dir, stream_dir).withWatermark("ts", delay)
    return content_key(ev).dropDuplicatesWithinWatermark(["content_key"])


def run_stream_append(df: DataFrame, table_name: str, timeout: int = 120) -> None:
    """Drain an append-mode streaming DataFrame into a memory sink
    (dedup/map-like operators are append; aggregations use
    ``run_stream_once``'s complete mode). Raises on timeout instead of
    returning over a PARTIALLY-filled memory table — a silent partial
    drain reads as a baffling result mismatch downstream (e6's oracle
    comparison) rather than the timeout it actually was."""
    q = (
        df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"run_stream_append: availableNow drain exceeded {timeout}s — "
            f"stopped the query instead of returning a partial {table_name}"
        )


# ---------------------------------------------------------------------------
# streaming incremental NEAR-dup probe (the streaming face of d10)
# ---------------------------------------------------------------------------


def stream_documents(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``documents``-shaped rows as a true stream (file source watching
    ``stream_dir``) — schema taken from a batch read of the real table,
    like stream_events."""
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reader = spark.readStream.schema(raw.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(stream_dir)


# The at-rest index: three relations (hashed shingle sets, minhash
# signatures, band buckets), each an ``id_part``-partitioned base plus a
# flat ``<rel>__delta`` sidecar.
#
# Layout. The base is partitioned by ``id_part = xxhash64(id) % p``,
# ``p`` = plans.layout.sized_parts over the indexed ids, chosen whenever
# a base is written (build, compaction) and recorded in it as an empty
# ``_id_parts_<p>`` file that moves with it through compaction's swap.
# A probe or guard observes its ids' keys at MAX_PARTS once, on the job
# that materializes them (_materialize_parts); each relation's open
# reduces them mod its own count, exact as every count is a power of
# two dividing MAX_PARTS. A base without the record is read in full.
# Small batches scan |parts| / p of the index; large ones saturate it.
#
# Appends do not write into the partitioned base (a saturating batch
# would publish a file per touched directory): each relation's accepted
# novels land as ONE flat file per micro-batch in the delta sidecar, so
# an append commits as a single rename with all of an id's rows (every
# band) in that file: fully appended or absent, the guard premise.
# compact_index folds the delta into the base on the threshold cadence
# through a crash-safe two-directory swap (recover_index).
#
# Open rule (read_index_relation). A relation is opened with its
# declared schema (_INDEX_RELS) and a file index over only the
# directories being read. An inferred schema costs a one-task
# footer-reading Spark job per read, and Spark lists more than
# spark.sql.sources.parallelPartitionDiscovery.threshold (32) paths or
# subdirectories with a distributed listing job (one task per
# directory). The id_part directories are already listed on the driver,
# so the base is opened in chunks of at most that many directories,
# unioned: a full or pruned open, and the flat delta, launch no Spark
# job.
_ID_PART = "id_part"
_PARTS_RECORD = "_id_parts_"


def _long(name: str) -> StructField:
    return StructField(name, LongType())


# Relation -> declared schema (all columns nullable, as parquet writes
# them). Every writer (write_index_frames, grow_index_append,
# compact_index) writes exactly these columns; the base adds the
# ``id_part`` partition column. tests/test_index_open.py checks the
# declared schemas against the inferred ones of a built and grown index.
_INDEX_RELS: dict[str, StructType] = {
    "hashed": StructType([_long("id"), _long("h")]),
    "sigs": StructType(
        [_long("id"), *(_long(f"m{j}") for j in range(_N_HASHES)), _long("n_sh")]
    ),
    "bands": StructType(
        [_long("id"), StructField("band", IntegerType()), StructField("bh", StringType())]
    ),
}


def _delta_dir(index_dir: str, rel: str) -> str:
    return f"{index_dir}/{rel}__delta"


def _id_part(col: str, nparts: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(nparts))


def _write_base(fs, Path, df: DataFrame, base: str, nparts: int) -> None:
    """Write ``df`` as a base of ``nparts`` id_part directories, one file
    each (hash-distributed by the partition key, so each id_part's rows
    land in one task), then record the count inside it."""
    assert nparts & (nparts - 1) == 0 and nparts <= MAX_PARTS, nparts
    (
        df.withColumn(_ID_PART, _id_part("id", nparts))
        .repartition(nparts, F.col(_ID_PART))
        .write.mode("overwrite")
        .partitionBy(_ID_PART)
        .parquet(base)
    )
    fs.create(Path(f"{base}/{_PARTS_RECORD}{nparts}"), True).close()


def _recorded_parts(fs, Path, base: str) -> int | None:
    """The id_part count recorded in a base (one glob); None for a base
    without a record, which is read in full."""
    found = fs.globStatus(Path(f"{base}/{_PARTS_RECORD}*")) or []
    return int(found[0].getPath().getName()[len(_PARTS_RECORD):]) if len(found) == 1 else None


def build_probe_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Materialize d10's corpus-side relations AT REST: (id, shingle
    hash) sets, minhash signatures, and band buckets as parquet under
    ``index_dir`` — computed ONCE from the static corpus, reused by
    every arriving micro-batch. This is the 100 TB division of labor
    the batch query can only document: index cost amortizes over the
    stream's lifetime, per-batch cost is the broadcast probe alone.

    Layout: see the module note; the part count is sized from the
    corpus's document count (a footer count, not the minhash frames')."""
    from ..catalog import table

    idx = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.lower("text").alias("text")
    )
    write_index_frames(index_dir, *_minhash_frames(idx), nparts=sized_parts(idx.count()))


def write_index_frames(index_dir: str, *frames: DataFrame, nparts=None) -> None:
    """Lay (hashed, sigs, bands) frames out in the at-rest index layout
    (module note) — shared by build_probe_index and every tool/test that
    stages an index from its own corpus, so a layout change happens in
    exactly one place. ``nparts`` (a power of two up to MAX_PARTS)
    defaults to sized_parts over the sigs rows, one per id."""
    sigs = frames[1]
    nparts = nparts or sized_parts(sigs.count())
    fs, Path = _index_fs(sigs.sparkSession, index_dir)
    for rel, frame in zip(_INDEX_RELS, frames):
        _write_base(fs, Path, frame, f"{index_dir}/{rel}", nparts)


def read_index_relation(
    spark: SparkSession,
    index_dir: str,
    rel: str,
    parts: list[int] | None = None,
) -> DataFrame:
    """The live view of one index relation: its id_part-partitioned
    base unioned with the flat ``__delta`` sidecar of not-yet-compacted
    appends, both read with the relation's declared schema.

    ``parts`` (id keys at MAX_PARTS) restricts the base to the parts
    they reduce to under its recorded count: only their existing
    directories are opened (``basePath`` keeps id_part a partition
    column) and ``id_part IN`` them still filters the scan, so the plan
    carries it as a partition filter. The opened directories are split
    into chunks the driver lists itself (module note), so no open
    launches a Spark job. The delta is bounded by the compaction cadence
    and is always read in full. A base without a recorded count (or
    without partitionBy) is read in full whatever ``parts`` says;
    decisions are identical either way."""
    schema = _INDEX_RELS[rel]
    base = f"{index_dir}/{rel}"
    fs, Path = _index_fs(spark, index_dir)
    if parts is not None:
        nparts = _recorded_parts(fs, Path, base)
        parts = None if nparts is None else sorted({p % nparts for p in parts})
    dirs = _partition_dirs(fs, Path, base)
    if not dirs:
        out = spark.read.schema(schema).parquet(base)
    else:
        with_part = StructType([*schema, StructField(_ID_PART, IntegerType())])
        reader = spark.read.schema(with_part).option("basePath", base)
        wanted = sorted(dirs) if parts is None else sorted(set(parts) & set(dirs))
        chunk = max(
            1, int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
        )
        paths = [dirs[p] for p in wanted]
        out = reader.parquet(*paths[:chunk])
        for i in range(chunk, len(paths), chunk):
            out = out.unionByName(reader.parquet(*paths[i : i + chunk]))
        if parts is not None:
            # one parsed predicate, not one py4j literal per part
            listed = ", ".join(map(str, parts))
            out = out.where(f"{_ID_PART} IN ({listed})" if parts else "false")
        out = out.select(*schema.fieldNames())
    delta = _delta_dir(index_dir, rel)
    if _count_data_files(fs, Path, delta) > 0:
        out = out.unionByName(spark.read.schema(schema).parquet(delta))
    return out


def _index_fs(spark: SparkSession, index_dir: str):
    """(FileSystem, Path class) for the index root — the Hadoop FS API,
    not driver-local os functions, for the same object-store honesty as
    sink._target_has_buckets."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(index_dir)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm.org.apache.hadoop.fs.Path


def _count_data_files(fs, Path, dir_path: str) -> int:
    """Recursive data-file count (metadata files, whose names start with
    ``_`` or ``.``, excluded) — the number the probe's file-listing cost
    is proportional to. The file system counts every file under the
    directory in one call, less the metadata files a glob finds where
    the layout keeps them (the directory itself and its id_part
    directories): a constant number of calls, not one per entry."""
    path = Path(dir_path)
    if not fs.exists(path):
        return 0
    meta = fs.globStatus(Path(f"{dir_path}/{{,*/}}{{_,.}}*"))
    return fs.getContentSummary(path).getFileCount() - len(meta)


def _partition_dirs(fs, Path, dir_path: str) -> dict[int, str]:
    """id_part value -> path of each top-level ``id_part=N`` directory of
    a relation base; empty for a missing or un-partitioned base. One
    glob lists the directories and their paths come back as one string:
    a constant number of calls, not one per directory."""
    from pyspark import SparkContext

    if not fs.exists(Path(dir_path)):
        return {}
    jvm = SparkContext._jvm
    found = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(
        fs.globStatus(Path(f"{dir_path}/{_ID_PART}=*"))
    )
    listed = jvm.scala.Predef.genericWrapArray(found).mkString("\n")
    names = (path.rsplit("/", 1)[-1] for path in listed.split("\n"))
    prefix = f"{_ID_PART}="
    return {
        int(name[len(prefix):]): f"{dir_path}/{name}"
        for name in names
        if name.startswith(prefix)
    }


def _indexed_ids(spark: SparkSession, fs, Path, index_dir: str) -> int:
    """Ids in the index: its live sigs rows (one per id), summed from
    the footers of the base and delta parquet files on the driver."""
    read_footer = spark._jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter
    conf = spark._jsc.hadoopConfiguration()
    return sum(
        block.getRowCount()
        for d in (f"{index_dir}/sigs", _delta_dir(index_dir, "sigs"))
        for st in fs.globStatus(Path(f"{d}/{{,*/}}[!_.]*.parquet")) or []
        for block in read_footer(conf, st).getBlocks()
    )


def index_file_counts(spark: SparkSession, index_dir: str) -> dict[str, int]:
    """Data-file count per index relation (base + delta sidecar) — the
    accretion observable the compaction threshold watches."""
    fs, Path = _index_fs(spark, index_dir)
    return {
        rel: _count_data_files(fs, Path, f"{index_dir}/{rel}")
        + _count_data_files(fs, Path, _delta_dir(index_dir, rel))
        for rel in _INDEX_RELS
    }


def _materialize_observed(df: DataFrame, *metrics):
    """``memo.materialize(df, eager=True)`` with ``metrics`` (aggregate
    columns) observed on that same job; returns the frame and the
    metrics as a JVM Row. The metrics are read from the executed query,
    not through ``pyspark.sql.Observation``: its session-wide listener
    makes later closures that capture the session unserializable (an ML
    evaluator in the same session then fails)."""
    observed = df.observe("observed", *metrics)
    out = memo.materialize(observed, eager=True)
    return out, observed._jdf.queryExecution().observedMetrics().get("observed").get()


def _materialize_parts(df: DataFrame, col: str) -> tuple[DataFrame, list[int]]:
    """``memo.materialize(df, eager=True)`` and the distinct MAX_PARTS
    keys of its ``col``, observed on that same job: a bounded set, and a
    retried task cannot change a set."""
    out, row = _materialize_observed(df, F.collect_set(_id_part(col, MAX_PARTS)))
    return out, list(row.getList(0))


def grow_index_append(spark: SparkSession, index_dir: str, novels: DataFrame) -> None:
    """Append accepted novels (an (id, text) frame) to the at-rest
    index's ``__delta`` sidecars (see _append_novels): the novel ids
    are materialized once and the novels' minhash frames are built
    lazily from ``novels``."""
    with job_step(spark, "grow.novels"):
        novel_ids, parts = _materialize_parts(novels.select("id").distinct(), "id")
    try:
        _append_novels(spark, index_dir, novel_ids, parts, _minhash_frames(novels))
    finally:
        memo.release(novel_ids)


def _append_novels(
    spark: SparkSession,
    index_dir: str,
    novel_ids: DataFrame,
    parts: list[int],
    frames: tuple[DataFrame, DataFrame, DataFrame],
) -> None:
    """Append the rows of the materialized ``novel_ids`` (distinct ids,
    whose id_part values are ``parts``) from ``frames`` (hashed, sigs,
    bands: any superset of the novels, e.g. the whole batch's) to the
    index's ``__delta`` sidecars, each relation INDEPENDENTLY guarded:
    hashed/sigs at id granularity, bands at (id, band) granularity (r12
    ADVICE — a new band row is dropped only if the LIVE bands hold that
    (id, band), so a replay REPAIRS an id left with partial band
    coverage by a non-rename-atomic object store instead of skipping
    it; on a rename-atomic filesystem the single-file delta append
    makes that state unreachable, so the finer guard is a repair path).
    Every relation's rows are restricted to the novel ids, so no frame
    row of a non-novel id is ever appended.

    Per-relation guards (not one shared id set) are what make the
    three non-atomic appends converge under crash-and-replay: a crash
    between the hashed and sigs appends leaves hashed grown and sigs
    not — on replay the hashed guard skips (no duplicate (id, h) rows
    to inflate n_common/jaccard) while the sigs and bands guards see
    the ids missing and catch up. Any crash point leaves each relation
    either fully appended or untouched for a given id (each append is
    ONE flat file, one rename — all of an id's rows inside), and
    replay completes exactly the missing ones.

    Guard cost: an empty ``parts`` means no novels and returns at once.
    Otherwise ONE guard job materializes the rows to append: the
    frames' novel rows, tagged (rel, id, band, payload columns) with
    band null for hashed and sigs, anti-joined against one broadcast
    union of the live (rel, id, band) rows of the novel ids (base
    pruned to ``parts``, plus the small delta sidecars) on rel, id and
    a null-safe band — id granularity for hashed and sigs, (id, band)
    for bands. The live rows are thereby frozen before the first
    append, and the job observes a row count per relation. Each
    relation's append is then one write job over that frozen frame;
    a relation with nothing to append (a replayed batch) writes no
    file."""
    if not parts:
        return
    ids = F.broadcast(novel_ids)
    no_band = F.lit(None).cast("int").alias("band")

    def tagged(rel: str, df: DataFrame, cols: list) -> DataFrame:
        return df.join(ids, "id", "left_semi").select(F.lit(rel).alias("rel"), *cols)

    new = live = None
    for rel, frame in zip(_INDEX_RELS, frames):
        band = [] if rel == "bands" else [no_band]
        rows = tagged(rel, frame, [*_INDEX_RELS[rel].fieldNames(), *band])
        guard = tagged(
            rel,
            read_index_relation(spark, index_dir, rel, parts=parts),
            ["id", "band" if rel == "bands" else no_band],
        )
        new = rows if new is None else new.unionByName(rows, allowMissingColumns=True)
        live = guard if live is None else live.unionByName(guard)
    n, g = new.alias("n"), F.broadcast(live.alias("g"))
    key = (
        (F.col("n.rel") == F.col("g.rel"))
        & (F.col("n.id") == F.col("g.id"))
        & F.col("n.band").eqNullSafe(F.col("g.band"))
    )
    # a left join that keeps the unmatched rows, not a left anti join:
    # the optimizer pushes an anti join below the union of the new rows
    # and specializes the live side per relation, one broadcast each
    with job_step(spark, "grow.guard"):
        to_append, counted = _materialize_observed(
            n.join(g, key, "left").where(F.col("g.id").isNull()).select("n.*"),
            *[F.count(F.when(F.col("rel") == rel, 1)) for rel in _INDEX_RELS],
        )
    try:
        for i, (rel, schema) in enumerate(_INDEX_RELS.items()):
            if not counted.getLong(i):
                continue
            # coalesce(1) into the flat delta sidecar: the batch-bounded
            # append commits as ONE file rename, so each relation's
            # novel set is fully appended or absent — never split
            # across directories (module note). Object stores without
            # atomic rename keep the same mid-commit caveat as the
            # upsert sink (sink.py docstring) — and the (id, band)
            # bands guard above repairs exactly that state.
            with job_step(spark, f"grow.append.{rel}"):
                (
                    to_append.where(F.col("rel") == rel)
                    .select(*schema.fieldNames())
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(_delta_dir(index_dir, rel))
                )
    finally:
        memo.release(to_append)


def probe_index_at_rest(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    exclude_self: bool = False,
    bframes: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Partition-pruned probe of an (id, text) batch against the
    at-rest index: candidates are materialized FIRST (one
    localCheckpoint job — the bands join against the broadcast batch
    side), which also observes the candidate ids' keys, and the
    hashed/sigs verification scans open ONLY the directories those
    keys reduce to (read_index_relation's ``parts``): per-batch index
    I/O is O(candidate partitions), not O(index). Every relation read
    includes its delta sidecar, so decisions see uncompacted appends.

    ``bframes`` is the batch's (hashed, sigs, bands), as for
    probe_with_index: the grow loop passes frames it materialized once
    and reuses them for the index append. The default builds them
    lazily from ``batch``, so they are recomputed by each consumer.

    Returns (decisions, cand); ``cand`` is localCheckpointed — the
    caller must release it when the batch ends (the grow loop's
    finally block), or a long-running stream accumulates pinned blocks.

    A base without a recorded count is scanned in full; decisions are
    identical either way (test_streaming_probe.py)."""
    ibands = read_index_relation(spark, index_dir, "bands")
    if bframes is None:
        bframes = _minhash_frames(batch)
    with job_step(spark, "probe.cand"):
        cand, parts = _materialize_parts(
            probe_candidates(ibands, bframes[2], exclude_self), "idx_id"
        )
    ihashed = read_index_relation(spark, index_dir, "hashed", parts=parts)
    isigs = read_index_relation(spark, index_dir, "sigs", parts=parts)
    out = probe_with_index(
        ihashed, isigs, ibands, batch,
        exclude_self=exclude_self, cand=cand, bframes=bframes,
    )
    return out, cand


def recover_index(spark: SparkSession, index_dir: str) -> None:
    """Restore a crashed compact_index swap. The swap's rename order
    (tmp complete -> delta aside -> base aside -> tmp published ->
    olds deleted) makes every crash point recoverable from directory
    EXISTENCE alone:

    - live base missing: the crash hit between the base renames — roll
      BACK to the definitely-complete originals (base__old -> base,
      and delta__old -> delta so the folded rows are not lost).
    - live base present and a tmp still exists: the swap never reached
      the base renames — roll back the delta rename (delta__old ->
      delta) and drop the tmp.
    - live base present, no tmp: the publish completed — the delta's
      rows are IN the base, so a surviving delta__old must be deleted,
      never restored (restoring it would duplicate (id, h) rows and
      inflate n_common/jaccard).

    A base carries its recorded id_part count inside it, so a restored
    base keeps its own count. Also runs at the top of a grow-loop
    micro-batch after an unclean one: the loop's first action reads the
    live relations, which a half-done swap would fail."""
    fs, Path = _index_fs(spark, index_dir)
    for rel in _INDEX_RELS:
        live, old, tmp = (
            f"{index_dir}/{rel}",
            f"{index_dir}/{rel}__old",
            f"{index_dir}/{rel}__compact_tmp",
        )
        delta = _delta_dir(index_dir, rel)
        delta_old = f"{delta}__old"
        if not fs.exists(Path(live)) and fs.exists(Path(old)):
            if not fs.rename(Path(old), Path(live)):
                raise IOError(f"recover_index: could not restore {live}")
            if fs.exists(Path(delta_old)) and not fs.exists(Path(delta)):
                if not fs.rename(Path(delta_old), Path(delta)):
                    raise IOError(f"recover_index: could not restore {delta}")
        if fs.exists(Path(delta_old)):
            if fs.exists(Path(tmp)) and not fs.exists(Path(delta)):
                # swap never published: the delta was only staged aside
                if not fs.rename(Path(delta_old), Path(delta)):
                    raise IOError(f"recover_index: could not restore {delta}")
            else:
                # publish completed (tmp consumed): folded rows live in
                # the base — the staged-aside delta must go
                fs.delete(Path(delta_old), True)
        if fs.exists(Path(old)):
            fs.delete(Path(old), True)
        if fs.exists(Path(tmp)):
            fs.delete(Path(tmp), True)


def compact_index(
    spark: SparkSession, index_dir: str, max_files: int = 64
) -> dict[str, int]:
    """Fold each relation's flat ``__delta`` sidecar into its
    id_part-partitioned base when the accreted file count warrants it:
    appends publish one delta file per relation per micro-batch, and
    after enough batches the delta scan is file-listing-bound. Trigger:
    delta files plus the base's EXCESS over its one-file-per-directory
    floor exceeds ``max_files`` (a freshly-compacted relation sits at
    the floor, so the threshold never re-triggers an idle rewrite).
    Returns {relation: file_count_before} for the relations rewritten.

    A rewritten base is re-sized to sized_parts over the index's ids
    (footer-counted sigs rows, no Spark job), its count recorded inside
    the tmp before the swap, so a count always moves with its base.

    Crash discipline — rename order is the recovery contract that
    recover_index walks: (1) write base UNION delta to
    ``<rel>__compact_tmp``; (2) delta -> ``<delta>__old``; (3) base ->
    ``<rel>__old``; (4) tmp -> base; (5) delete both olds. Every call
    first recovers, so the single writer loop (the only caller, between
    micro-batches) self-heals on its next batch."""
    recover_index(spark, index_dir)
    fs, Path = _index_fs(spark, index_dir)
    compacted: dict[str, int] = {}
    nparts = None
    for rel in _INDEX_RELS:
        live, old, tmp = (
            f"{index_dir}/{rel}",
            f"{index_dir}/{rel}__old",
            f"{index_dir}/{rel}__compact_tmp",
        )
        delta = _delta_dir(index_dir, rel)
        delta_old = f"{delta}__old"
        n_base = _count_data_files(fs, Path, live)
        n_delta = _count_data_files(fs, Path, delta)
        base_excess = max(0, n_base - len(_partition_dirs(fs, Path, live)))
        if n_delta + base_excess <= max_files:
            continue
        if nparts is None:
            nparts = sized_parts(_indexed_ids(spark, fs, Path, index_dir))
        with job_step(spark, "compact.rewrite"):
            _write_base(fs, Path, read_index_relation(spark, index_dir, rel), tmp, nparts)
        if fs.exists(Path(delta)):
            if not fs.rename(Path(delta), Path(delta_old)):
                raise IOError(f"compact_index: could not stage {delta} aside")
        if not fs.rename(Path(live), Path(old)):
            raise IOError(f"compact_index: could not stage {live} aside")
        if not fs.rename(Path(tmp), Path(live)):
            raise IOError(f"compact_index: could not publish {tmp}")
        fs.delete(Path(old), True)
        if fs.exists(Path(delta_old)):
            fs.delete(Path(delta_old), True)
        compacted[rel] = n_base + n_delta
    return compacted


def streaming_incremental_probe(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str,
    index_dir: str,
    target_dir: str,
    max_files_per_trigger: int | None = None,
    grow_index: bool = False,
    compact_every: int | None = None,
    compact_max_files: int = 64,
):
    """Probe an arriving document stream against the at-rest index and
    MERGE each micro-batch's decisions into a bucket-partitioned
    parquet target (exactly the upsert-sink discipline): rows dedupe on
    batch_id, so an at-least-once upstream that re-delivers a whole
    file converges to the same table — replay-idempotent, asserted in
    test_streaming_probe.py by draining the same file twice and
    comparing against the BATCH d10 answer.

    foreachBatch is the right engine surface here: the probe is a
    multi-join + aggregation pipeline (not expressible as a single
    streaming stateful operator), and per-micro-batch batch-mode
    execution against static index relations is precisely its
    production shape.

    ``grow_index=True`` closes the continuous-ingestion loop: a batch's
    ACCEPTED novels are appended back to the at-rest index (signatures,
    shingle sets, band buckets), so later batches dedup against earlier
    arrivals, not just the original corpus. Replay safety is ordered
    around ONE durable commit point (r11 ADVICE — the index must never
    mutate before the decisions that justified it are stored):

    1. the probe excludes self-id matches (a redelivered doc must not
       match its own earlier acceptance and flip novel -> dup);
    2. the decision MERGE runs FIRST and keeps the earliest stored
       decision (_is_new ASC) — replay cannot rewrite history;
    3. the index append derives its novel set from the STORED decisions
       table (not the in-flight recomputation, which on replay can see
       a half-grown index), and each of the three relation appends is
       independently guarded against that relation's live ids
       (_append_novels), so a crash at ANY point replays to the same
       index — no duplicate (id, h) rows, no lost sigs/bands. The
       appended rows come from the batch's own minhash frames,
       filtered to those stored novel ids.

    The index frames are re-read from parquet inside every micro-batch
    — each batch must see the appends of the previous one.

    ``compact_every=N`` runs compact_index (threshold
    ``compact_max_files``) after every Nth micro-batch, from this
    single writer loop — the append-per-batch layout is otherwise
    file-listing-bound after ~10^4 batches (see compact_index)."""
    from pyspark.sql import Window

    # Crash-recovery probes only when needed (r12 VERDICT task 5): the
    # three per-relation fs.exists sweeps of recover_index are part of
    # the loop's fixed per-batch overhead, but a swap can only be left
    # half-done by a batch that DIDN'T complete. healthy=True only
    # between a fully-committed apply() and the start of the next; any
    # exception (or a fresh session) leaves it False and the next batch
    # recovers.
    state = {"healthy": False}

    def one_per_key(df: DataFrame) -> DataFrame:
        # _is_new ASC: the stored decision wins, a replay cannot rewrite
        # history (with a static index both rows are identical; with a
        # grown index only the FIRST decision is the true one)
        w = Window.partitionBy("batch_id").orderBy(F.col("_is_new").asc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        with job_step(spark, "batch.empty"):
            empty = batch_df.isEmpty()
        if empty:
            # A zero-row micro-batch (empty arrival file) must be a
            # no-op BEFORE the merge: if it were the very first batch,
            # the merge would write no bucket partitions and the
            # stored-decision read below would throw on a target
            # holding only _checkpoint — wedging the stream in a
            # permanent replay-fail loop (r12 ADVICE).
            return
        if grow_index and not state["healthy"]:
            # heal a crashed compaction swap BEFORE touching the live
            # relations — the reads below would fail on every replay
            # otherwise and compaction's own recovery could never run
            recover_index(spark, index_dir)
        state["healthy"] = False
        batch = batch_df.select(
            F.col("doc_id").alias("id"), F.lower("text").alias("text")
        )
        bhashed = bsigs = out = cand = stored_novel_ids = None
        try:
            # Compute-once: the batch's minhash kernel runs here, once.
            # hashed and sigs are materialized (bands derive from sigs
            # lazily) and feed the candidate join, the verification and
            # the index append; the probe's decisions are materialized
            # once too, since the merge reads them twice (touched-bucket
            # collect + winners write). No list costs a job of its own:
            # the candidates' and the stored novels' id_part sets are
            # observed on the jobs that materialize them, and the guard
            # job counts the rows to append per relation. Every frame is
            # released when the batch ends: a long-running stream must
            # not accumulate pinned RDDs.
            with job_step(spark, "batch.minhash"):
                bhashed = memo.materialize(_minhash_hashed(batch), eager=False)
                bsigs = memo.materialize(_sigs_from_hashed(bhashed), eager=True)
            bframes = (bhashed, bsigs, _bands_from_sigs(bsigs))
            # fresh per micro-batch (the live index includes prior
            # appends), hashed/sigs partition-pruned to the candidate
            # ids' directories
            out, cand = probe_index_at_rest(
                spark, index_dir, batch, exclude_self=grow_index, bframes=bframes
            )
            with job_step(spark, "probe.decide"):
                out = memo.materialize(out, eager=True)
            # 1. COMMIT the decisions (replay-idempotent first-wins
            # merge) BEFORE any index mutation. Same explicit bucket
            # count on both paths (r12 ADVICE: relying on the sink's
            # default let the two paths' decision tables silently
            # diverge if either constant moved).
            touched = merge_into_buckets(
                out, target_dir, "batch_id", one_per_key,
                n_buckets=_N_DECISION_BUCKETS,
            )
            if not grow_index:
                state["healthy"] = True
                return
            # 2. Append novels derived from the STORED decisions — the
            # history a replay must honor, not the recomputation it
            # must not — restricted to this batch's ids. The read
            # declares the stored schema (out's columns plus the
            # bucket) and is pruned to the merge's touched buckets (the
            # sink's O(touched buckets) contract); with no touched list
            # the target held nothing before this merge, so it holds
            # this batch alone. It is MATERIALIZED once, with its
            # id_part set: the guard re-reads a tiny frozen frame.
            stored = spark.read.schema(
                StructType([*out.schema, StructField(_BUCKET, LongType())])
            ).parquet(target_dir)
            if touched is not None:
                stored = stored.where(F.col(_BUCKET).isin(touched))
            with job_step(spark, "grow.novels"):
                stored_novel_ids, parts = _materialize_parts(
                    stored.where(F.col("is_novel"))
                    .select(F.col("batch_id").alias("id"))
                    .join(F.broadcast(batch.select("id")), "id", "left_semi"),
                    "id",
                )
            _append_novels(spark, index_dir, stored_novel_ids, parts, bframes)
            if compact_every and (batch_id + 1) % compact_every == 0:
                compact_index(spark, index_dir, max_files=compact_max_files)
            state["healthy"] = True
        finally:
            memo.release(out, cand, stored_novel_ids, bsigs, bhashed)

    stream = stream_documents(spark, sf_dir, stream_dir, max_files_per_trigger)
    return (
        stream.writeStream.foreachBatch(apply)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", os.path.join(target_dir, "_checkpoint")
        )
        .start()
    )


# ---------------------------------------------------------------------------
# streaming quality cut (the streaming face of c16's Gopher cut)
# ---------------------------------------------------------------------------


def streaming_quality_cut(
    spark: SparkSession, sf_dir: str, stream_dir: str, delay: str = "2 hours"
) -> DataFrame:
    """c16's Gopher repetition cut + exact dedup applied ON THE STREAM:
    the in-row top-gram fold is a stateless projection (it rides each
    micro-batch with zero state), and duplicate suppression is
    dropDuplicatesWithinWatermark on the content hash — bounded state,
    the same exactly-once discipline as streaming_dedup.

    Documents carry no event time, so the dedup window is ARRIVAL time
    (an injected processing-time column) — the standard choice for
    ingest dedup where re-deliveries cluster within minutes of the
    original. Cut documents never enter the dedup state at all: the
    filter sits below the stateful operator, so boilerplate floods
    (the very thing the Gopher rules drop) cannot balloon state."""
    from ..pipeline.curation import _WS_SPLIT, repetition_cut_flag

    docs = stream_documents(spark, sf_dir, stream_dir)
    kept = (
        docs.withColumn("text", F.lower("text"))
        .withColumn("ws", F.split("text", _WS_SPLIT))
        .where(~repetition_cut_flag())
        .drop("ws")
    )
    return (
        kept.withColumn("arrival_ts", F.current_timestamp())
        .withWatermark("arrival_ts", delay)
        .withColumn("content_key", F.md5("text"))
        .dropDuplicatesWithinWatermark(["content_key"])
    )


# e6 runs c16's planted corpus over a deterministic 1-in-4 slice of the
# natural docs (r12 VERDICT task 4: e6 was the registry's most
# expensive verification query at 12.2 s — the drain's cost is
# row-bound, and the slice keeps both plant families at proportional
# mass: every-20th repetitive doc, every-20th verbatim copy). The
# oracle applies the SAME slice, so the certificate is unweakened —
# doubled delivery, cut-below-state plan gate, and survivor-digest
# equality all still hold.
_E6_EVERY = 4


def _e6_oracle() -> str:
    from ..pipeline.curation import _C16_TOP2, _C16_TOP3, _c16_corpus_sql
    from ..pipeline.textstats import _gram_metrics_sql

    return f"""
    WITH {_c16_corpus_sql(f"WHERE doc_id % {_E6_EVERY} = 0")},
    w AS (
      SELECT doc_id, text, string_split_regex(text, '\\s+') AS ws
      FROM corpus),
    {_gram_metrics_sql(2)},
    {_gram_metrics_sql(3)},
    m AS (
      SELECT w.text,
             COALESCE(CAST(a2.top2 AS DOUBLE) / a2.total2
                      > {_C16_TOP2}, FALSE)
             OR COALESCE(CAST(a3.top3 AS DOUBLE) / a3.total3
                         > {_C16_TOP3}, FALSE) AS cut
      FROM w
      LEFT JOIN a2 ON a2.doc_id = w.doc_id
      LEFT JOIN a3 ON a3.doc_id = w.doc_id),
    kept AS (SELECT DISTINCT text FROM m WHERE NOT cut),
    keyed AS (
      SELECT md5(text) AS content_key,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS tok
      FROM kept)
    SELECT substr(content_key, 1, 1) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_texts,
           MIN(content_key) AS min_key,
           MAX(content_key) AS max_key,
           CAST(SUM(tok) AS BIGINT) AS sum_tok
    FROM keyed
    GROUP BY substr(content_key, 1, 1)
    """


# staged stream corpus per sf_dir, written once per process: the corpus
# is deterministic (c16's planted verification corpus), so re-staging it
# on every call would only rewrite identical bytes. The DRAIN runs per
# call — the query certifies the stream path, not a cached table.
_E6_STAGE_MEMO: dict[str, str] = {}
_E6_SINK_SEQ = iter(range(10**9))
_E6_LAST_SINK: list[str] = []


def e6_streaming_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable face of streaming_quality_cut (the r11 verdict
    item: the streaming cut was pytest-only): stage c16's planted
    corpus as a document stream DELIVERED TWICE (a whole-file
    re-delivery, the at-least-once ingest failure mode), drain it
    through the streaming Gopher cut + arrival-time dedup, and roll the
    survivor set up into an arrival-order-invariant shape — per
    content-key prefix bucket: surviving-text count, min/max content
    key, token mass. Exactly-once semantics make the drained table hold
    ONE row per distinct surviving text, so the rollup equals the
    BATCH answer (the oracle: distinct kept texts of the same sliced
    c16 corpus, _c16_corpus_sql) —
    the same residency-invariance certificate sim8 rides: results must
    not depend on whether the corpus was a table or a replayed stream.

    Only text-derived columns are aggregated: WHICH doc_id survives a
    duplicate group depends on arrival order (nondeterministic), but
    the surviving text set — and therefore every column here — does
    not."""
    import tempfile

    from ..pipeline.curation import _WS_SPLIT, _c16_corpus

    staged = _E6_STAGE_MEMO.get(sf_dir)
    if staged is None or not os.path.isdir(staged):
        work = tempfile.mkdtemp(prefix="e6-qcut-")
        corpus_dir = os.path.join(work, "corpus.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # full documents schema so stream_documents reads it verbatim;
        # metadata columns ride as typed NULLs — the streaming cut and
        # the survivor digest touch only text-derived columns, and the
        # join-back that used to fill real metadata was the most
        # expensive job of the staging write (a shuffle the
        # verification query re-paid every fresh process)
        meta = {
            f.name: f.dataType
            for f in docs.schema
            if f.name not in ("doc_id", "text")
        }
        corpus = _c16_corpus(spark, sf_dir, every=_E6_EVERY).select(
            "doc_id",
            "text",
            *[F.lit(None).cast(t).alias(c) for c, t in meta.items()],
        )
        corpus.select(docs.columns).coalesce(1).write.parquet(corpus_dir)
        staged = os.path.join(work, "arrivals")
        os.makedirs(staged)
        part = [
            f for f in os.listdir(corpus_dir) if f.endswith(".parquet")
        ][0]
        for copy in ("arrival-0.parquet", "arrival-1.parquet"):
            os.symlink(
                os.path.join(corpus_dir, part), os.path.join(staged, copy)
            )
        _E6_STAGE_MEMO[sf_dir] = staged

    if _E6_LAST_SINK:
        # only the current call's table is ever read; a long session
        # must not pin every past run's survivor set in memory
        spark.catalog.dropTempView(_E6_LAST_SINK[-1])
        _E6_LAST_SINK.clear()
    sink = f"e6_qcut_out_{next(_E6_SINK_SEQ)}"
    run_stream_append(
        streaming_quality_cut(spark, sf_dir, staged), sink, timeout=300
    )
    _E6_LAST_SINK.append(sink)
    got = spark.table(sink)
    return (
        got.select(
            "content_key",
            F.size(F.split("text", _WS_SPLIT)).cast("long").alias("tok"),
        )
        .groupBy(F.substring("content_key", 1, 1).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_texts"),
            F.min("content_key").alias("min_key"),
            F.max("content_key").alias("max_key"),
            F.sum("tok").alias("sum_tok"),
        )
    )


query("e6_streaming_quality_cut", oracle=_e6_oracle())(
    e6_streaming_quality_cut
)
