"""Opening the at-rest dedup index (streaming/dedup.read_index_relation).

Each relation is read with a declared schema and a file index over only
the directories being read. These tests pin what that must not change:
the declared schemas equal what the writers actually write, a pruned
open returns exactly the rows of the unpruned base filtered to the
requested parts (plus the whole delta), a legacy un-partitioned base
still reads in full, and no open launches a Spark job. The indexes are
built at an explicit 64 parts, so that pruning has directories to skip
(the size-derived count of the tiny corpus is one)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_TINY, build_index_at

RELS = ("hashed", "sigs", "bands")


def _novels(docs, mod: int, offset: int):
    return docs.where(F.col("doc_id") % mod == 0).select(
        (F.col("doc_id") + offset).alias("id"),
        F.array_join(F.reverse(F.split(F.lower("text"), r"\s+")), " ").alias("text"),
    )


@pytest.fixture(scope="module")
def grown_index(spark):
    """The tiny corpus's index at 64 parts (every id_part directory
    present) plus one grow_index_append, so every relation has a delta."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.streaming.dedup import grow_index_append

    index_dir = os.path.join(tempfile.mkdtemp(prefix="index-open-"), "index")
    build_index_at(spark, index_dir, 64)
    docs = table(spark, SF_DIR_TINY, "documents")
    grow_index_append(spark, index_dir, _novels(docs, 13, 4_000_000))
    return index_dir


@pytest.fixture(scope="module")
def sparse_indexes(spark):
    """Two indexes over five corpus docs with the same delta from one
    grow_index_append: ``partitioned`` (write_index_frames at 64 parts,
    so most id_part directories are missing) and ``legacy`` (the same frames
    written without partitionBy, so the base has no id_part column)."""
    import shutil

    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.pipeline.dedup import _minhash_frames
    from spark_sql_perf_spark.streaming.dedup import grow_index_append, write_index_frames

    work = tempfile.mkdtemp(prefix="index-open-sparse-")
    docs = table(spark, SF_DIR_TINY, "documents")
    corpus = docs.orderBy("doc_id").limit(5).select(
        F.col("doc_id").alias("id"), F.lower("text").alias("text")
    )
    frames = _minhash_frames(corpus)
    partitioned, legacy = (os.path.join(work, kind) for kind in ("partitioned", "legacy"))
    write_index_frames(partitioned, *frames, nparts=64)
    grow_index_append(spark, partitioned, _novels(docs, 97, 7_000_000))
    for rel, frame in zip(RELS, frames):
        frame.write.parquet(f"{legacy}/{rel}")
        shutil.copytree(f"{partitioned}/{rel}__delta", f"{legacy}/{rel}__delta")
    return {"partitioned": partitioned, "legacy": legacy}


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _job_count(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList()).size()


def test_declared_schemas_match_written_relations(spark, grown_index):
    """A wrong declared type would misread data silently: each declared
    schema must equal the inferred schema of both the base (minus the
    id_part partition column) and the delta that the writers produced."""
    from spark_sql_perf_spark.streaming.dedup import _ID_PART, _INDEX_RELS

    assert tuple(_INDEX_RELS) == RELS
    for rel, schema in _INDEX_RELS.items():
        base = spark.read.parquet(f"{grown_index}/{rel}").drop(_ID_PART).schema
        delta = spark.read.parquet(f"{grown_index}/{rel}__delta").schema
        assert base == schema, (rel, base.simpleString(), schema.simpleString())
        assert delta == schema, (rel, delta.simpleString(), schema.simpleString())


def _filtered_reference(spark, index_dir: str, rel: str, parts):
    """The unpruned base (inferred schema) filtered to the id_part
    values ``parts`` (keys at MAX_PARTS) reduce to under the base's
    recorded count, plus the whole delta: what a pruned open must
    return. A base without a record is not filtered."""
    from spark_sql_perf_spark.streaming.dedup import _ID_PART

    base = spark.read.parquet(f"{index_dir}/{rel}")
    recorded = [f for f in os.listdir(f"{index_dir}/{rel}") if f.startswith("_id_parts_")]
    if recorded:
        nparts = int(recorded[0][len("_id_parts_"):])
        base = base.where(F.col(_ID_PART).isin([p % nparts for p in parts]))
    base = base.drop(_ID_PART)
    return _rows(base) + _rows(spark.read.parquet(f"{index_dir}/{rel}__delta"))


def test_pruned_open_equals_filtered_full_read(spark, grown_index, sparse_indexes):
    import shutil

    from spark_sql_perf_spark.streaming.dedup import (
        _INDEX_RELS,
        _ID_PART,
        read_index_relation,
    )

    sparse = sparse_indexes["partitioned"]
    # the same sparse index with the recorded counts removed: read unpruned
    unrecorded = os.path.join(tempfile.mkdtemp(prefix="index-open-unrecorded-"), "index")
    shutil.copytree(sparse, unrecorded)
    for rel in _INDEX_RELS:
        (record,) = [f for f in os.listdir(f"{unrecorded}/{rel}") if f.startswith("_id_parts_")]
        assert record == "_id_parts_64"
        os.remove(f"{unrecorded}/{rel}/{record}")
    present = sorted(
        r[0]
        for r in spark.read.parquet(f"{sparse}/sigs").select(_ID_PART).distinct().collect()
    )
    missing = sorted(set(range(64)) - set(present))
    assert present and missing
    assert all(os.path.isdir(f"{grown_index}/sigs/{_ID_PART}={p}") for p in (0, 7, 21, 63))
    cases = [
        (grown_index, [0, 7, 21, 63]),  # every part has a directory
        (sparse, present[:1] + missing[:2]),  # some parts have none
        (sparse, missing[:3]),  # no requested part has a directory
        (sparse, []),
        (grown_index, [64 + 7, 3 * 64 + 21, 16383]),  # keys above the count reduce
        (unrecorded, present[:1] + missing[:2]),  # no record: the whole base
    ]
    for index_dir, parts in cases:
        for rel in _INDEX_RELS:
            got = _rows(read_index_relation(spark, index_dir, rel, parts=parts))
            want = sorted(_filtered_reference(spark, index_dir, rel, parts))
            assert got == want, (index_dir, rel, parts)
    # the pruned plan still filters at the source
    plan = read_index_relation(
        spark, grown_index, "sigs", parts=[3, 4]
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [id_part" in plan, plan


def test_legacy_base_reads_in_full(spark, sparse_indexes):
    """A base written without partitionBy has no id_part column to prune
    on: any ``parts`` reads the whole base, plus the delta."""
    from spark_sql_perf_spark.streaming.dedup import _INDEX_RELS, read_index_relation

    legacy = sparse_indexes["legacy"]
    for rel in _INDEX_RELS:
        want = sorted(
            _rows(spark.read.parquet(f"{legacy}/{rel}"))
            + _rows(spark.read.parquet(f"{legacy}/{rel}__delta"))
        )
        assert want
        for parts in (None, [], [1, 2]):
            got = _rows(read_index_relation(spark, legacy, rel, parts=parts))
            assert got == want, (rel, parts)


def test_pruned_open_launches_no_spark_job(spark, grown_index):
    """Opening is metadata work: with a declared schema and the base's
    directories opened in driver-listed chunks, a pruned open of 1, 32
    or 40 parts and a full open (delta present) run no Spark job."""
    from spark_sql_perf_spark.streaming.dedup import _INDEX_RELS, read_index_relation

    for rel in _INDEX_RELS:
        for parts in ([5], list(range(0, 64, 2)), list(range(40)), None):
            before = _job_count(spark)
            read_index_relation(spark, grown_index, rel, parts=parts)
            assert _job_count(spark) - before == 0, (rel, parts and len(parts))


def _per_entry_counts(fs, Path, dir_path: str) -> int:
    """The per-entry listing the helpers replaced: every file under the
    directory, one call per entry, metadata names skipped."""
    if not fs.exists(Path(dir_path)):
        return 0
    it = fs.listFiles(Path(dir_path), True)
    n = 0
    while it.hasNext():
        name = it.next().getPath().getName()
        n += not (name.startswith("_") or name.startswith("."))
    return n


def _per_entry_dirs(fs, Path, dir_path: str) -> dict[int, str]:
    if not fs.exists(Path(dir_path)):
        return {}
    names = [s.getPath().getName() for s in fs.listStatus(Path(dir_path))]
    return {
        int(n[len("id_part="):]): f"{dir_path}/{n}" for n in names if n.startswith("id_part=")
    }


def test_listing_helpers_match_per_entry_listing(spark, sparse_indexes):
    """_count_data_files and _partition_dirs give the per-entry listing's
    answers on a built, grown, compacted and grown-again index (a base of
    one file per directory plus a delta), on a sparse and a legacy base,
    and on a missing directory. The index is built at 64 parts and the
    compaction re-sizes it to the count the sizing rule gives its ids,
    recorded in the base (the ids counted from parquet footers)."""
    from spark_sql_perf_spark.catalog import table
    from spark_sql_perf_spark.plans.layout import sized_parts
    from spark_sql_perf_spark.streaming.dedup import (
        _count_data_files,
        _index_fs,
        _indexed_ids,
        _partition_dirs,
        _recorded_parts,
        compact_index,
        grow_index_append,
    )

    index_dir = os.path.join(tempfile.mkdtemp(prefix="index-list-"), "index")
    build_index_at(spark, index_dir, 64)
    docs = table(spark, SF_DIR_TINY, "documents")
    grow_index_append(spark, index_dir, _novels(docs, 17, 5_000_000))
    fs, Path = _index_fs(spark, index_dir)
    assert len(_partition_dirs(fs, Path, f"{index_dir}/sigs")) == 64
    n_ids = spark.read.parquet(f"{index_dir}/sigs").count() + spark.read.parquet(
        f"{index_dir}/sigs__delta"
    ).count()
    assert _indexed_ids(spark, fs, Path, index_dir) == n_ids  # footer count
    assert set(compact_index(spark, index_dir, max_files=0)) == set(RELS)
    grow_index_append(spark, index_dir, _novels(docs, 19, 6_000_000))

    dirs = [
        f"{root}/{rel}{suffix}"
        for root in (index_dir, *sparse_indexes.values())
        for rel in RELS
        for suffix in ("", "__delta")
    ]
    dirs.append(f"{index_dir}/missing")
    for d in dirs:
        assert _count_data_files(fs, Path, d) == _per_entry_counts(fs, Path, d), d
        assert _partition_dirs(fs, Path, d) == _per_entry_dirs(fs, Path, d), d
    nparts = sized_parts(n_ids)
    for rel in RELS:
        assert _recorded_parts(fs, Path, f"{index_dir}/{rel}") == nparts, rel
        assert len(_partition_dirs(fs, Path, f"{index_dir}/{rel}")) == nparts, rel
        assert _count_data_files(fs, Path, f"{index_dir}/{rel}") == nparts, rel
