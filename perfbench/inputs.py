"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, scale, seed) and is cached
under ``<cache>/<workload>-<scale>-s<seed>/`` with a ``manifest.json``
that records the generation time, row counts and bytes. The workload
code receives only the directory.

* ``driver_tables`` writes the ten tables of the driver schema
  (``catalog.TABLE_NAMES``: TPC-H-shaped star schema, events, documents,
  embeddings) with numpy/pyarrow, no JVM. Sizes scale like the
  sf0.001/sf0.01/sf0.1 test data of TESTDATA.md and value domains
  follow it: money
  columns are exact two-decimal values, so the DuckDB oracles stay
  hash-exact.
* ``write_tpcds_tables`` writes the nine Impala-kit TPC-DS tables with
  the library's own generator (``sources.datagen.gen_tpcds``), once per
  scale, at dsdgen's fixed seed. It needs a Spark session, so
  ``provision`` runs it in a child process: the measured process must
  never start from a JVM that input generation already warmed. The
  workload seed then draws a 90% row sample of ``store_sales`` (the fact
  table every query scans) file by file, which takes well under a
  second where a fresh generation takes half a minute.
* ``dedup_inputs`` writes a documents corpus plus the planted arrival
  files of the streaming workload and a ``truth.json`` naming what each
  arrival must decide.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the checkout
DAY_US = 86_400_000_000
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per (seed, table): adding a table never
    # shifts another table's values
    return np.random.default_rng([seed, sum(map(ord, table)) * 7919 + len(table)])


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    # cents / 100 is the double nearest the two-decimal value, exactly
    # what parsing "12.34" gives, so DECIMAL(18,2) casts are exact
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(pa.string())


def driver_sizes(sf: float) -> dict[str, int]:
    """Row counts of the driver testdata at scale factor ``sf``."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def documents_table(seed: int, n: int) -> pa.Table:
    """``documents``: 10-100 words from a 30-word vocabulary; 5% are
    near-duplicates (an earlier-picked document's text plus " dup")."""
    rng = _rng(seed, "documents")
    words = np.array(VOCAB)
    texts = [
        " ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n)
    ]
    for d in rng.choice(n, n // 20, replace=False):
        src = int(rng.integers(0, n - 1))
        src += src >= d
        texts[d] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def driver_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    size = driver_sizes(sf)
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    rng = _rng(seed, "customer")
    n = size["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": _money(rng, -99_999, 999_999, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    rng = _rng(seed, "supplier")
    n = size["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "s_acctbal": _money(rng, -99_999, 999_999, n),
    })
    rng = _rng(seed, "part")
    n = size["part"]
    keys = np.arange(n, dtype=np.int64)
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, n),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": (9_000 + keys % 1_000) / 10.0,
    })
    rng = _rng(seed, "orders")
    n = size["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, size["customer"], n, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 100_000, 50_000_000, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })
    rng = _rng(seed, "lineitem")
    n = size["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, size["orders"], n, dtype=np.int64),
        "l_partkey": rng.integers(0, size["part"], n, dtype=np.int64),
        "l_suppkey": rng.integers(0, size["supplier"], n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 90_000, 10_500_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })
    rng = _rng(seed, "events")
    n = size["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, size["users"], n, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(5_000.0, n)) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    out["documents"] = documents_table(seed, size["documents"])
    rng = _rng(seed, "embeddings")
    n = size["embeddings"]
    vec = rng.standard_normal((n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n, dtype=np.int32),
    })
    return out


def write_driver_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    rows = {}
    for name, tbl in driver_tables(seed, sf).items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet", compression="snappy")
        rows[name] = tbl.num_rows
    return rows


# --------------------------------------------------------------------------
# streaming dedup arrivals
# --------------------------------------------------------------------------


def _reverse_words(text: str) -> str:
    return " ".join(reversed(text.split()))


def write_dedup_inputs(
    out_dir: str, seed: int, corpus_docs: int, n_files: int, per_file: int
) -> dict[str, int]:
    """Corpus plus ``n_files`` arrival files: all but the last mix three
    kinds of row (row j is kind j mod 3), and the last file redelivers the
    first one whole:

    * ``near``: a corpus document plus a suffix; must match its source;
    * ``novel``: a corpus document with its words reversed; must be novel
      (its shingles differ from every indexed document's);
    * ``echo``: an earlier file's novel plus a suffix; must match that
      novel, which only holds if the index grew between micro-batches
      (the first file has no earlier novels and plants a novel instead).

    Ids are disjoint per file, so a decision is attributable to one
    planted row. ``truth.json`` maps each arriving id to the id it must
    match, or to null when it must be novel.
    """
    corpus = documents_table(seed, corpus_docs)
    pq.write_table(corpus, f"{out_dir}/documents.parquet", compression="snappy")
    text = corpus.column("text").to_pylist()
    meta = {c: corpus.column(c).to_pylist() for c in ("lang", "source")}
    # sources are documents outside every planted " dup" family, drawn
    # without replacement: each planted row then has exactly one true match
    base = [t.removesuffix(" dup") for t in text]
    family = Counter(base)
    singles = [i for i, t in enumerate(text) if family[t] == 1 and not t.endswith(" dup")]
    rng = _rng(seed, "arrivals")
    sources = iter(rng.permutation(singles).tolist())
    arrivals = f"{out_dir}/arrivals"
    os.makedirs(arrivals)
    truth: dict[int, int | None] = {}
    novels: list[tuple[int, str, int]] = []  # (id, text, corpus source)
    files: list[pa.Table] = []
    for f in range(n_files - 1):
        id_base = 1_000_000 * (f + 1)
        rows = []
        for j in range(per_file):
            doc_id = id_base + j
            kind = ("novel", "near", "echo")[j % 3]
            if kind == "echo" and novels:
                src_id, src_text, src = novels[int(rng.integers(0, len(novels)))]
                rows.append((doc_id, f"{src_text} echo {j}", src))
                truth[doc_id] = src_id
                continue
            src = next(sources)
            if kind == "near":
                rows.append((doc_id, f"{text[src]} near {j}", src))
                truth[doc_id] = src
            else:
                rows.append((doc_id, _reverse_words(text[src]), src))
                truth[doc_id] = None
        novels.extend(r for r in rows if truth[r[0]] is None)
        files.append(pa.table({
            "doc_id": np.array([r[0] for r in rows], dtype=np.int64),
            "text": [r[1] for r in rows],
            "lang": [meta["lang"][r[2]] for r in rows],
            "source": [meta["source"][r[2]] for r in rows],
            "n_chars": np.array([len(r[1]) for r in rows], dtype=np.int64),
        }))
    files.append(files[0])  # redelivery: same rows, a new file
    in_bytes = 0
    for f, tbl in enumerate(files):
        path = f"{arrivals}/arrival-{f:03d}.parquet"
        pq.write_table(tbl, path, compression="snappy")
        # the file source orders a trigger's files by modification time
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        in_bytes += os.path.getsize(path)
    with open(f"{out_dir}/truth.json", "w") as fh:
        json.dump({str(k): v for k, v in truth.items()}, fh)
    return {
        "documents": corpus.num_rows,
        "arrival_files": len(files),
        "arrival_rows": sum(t.num_rows for t in files),
        "arrival_bytes": in_bytes,
    }


# --------------------------------------------------------------------------
# TPC-DS (library generator, run in a child process)
# --------------------------------------------------------------------------


def write_tpcds_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    from spark_sql_perf_spark.operators.impala_suite import IMPALA_TABLES
    from spark_sql_perf_spark.sources.datagen import gen_tpcds, tpcds_rows

    from perfbench.session import start_session, stop_session

    spark = start_session(ROOT)
    try:
        for name in IMPALA_TABLES:
            gen_tpcds(spark, name, scale, seed=str(seed)).write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/{name}")
        return {name: tpcds_rows(name, scale) for name in IMPALA_TABLES}
    finally:
        stop_session(spark)


TPCDS_BASE_SEED = 100  # dsdgen's RNGSEED, the generator's default
TPCDS_KEEP = 0.9


def sample_store_sales(base_dir: str, out_dir: str, seed: int) -> int:
    """Seeded row sample of the base ``store_sales``, keeping its files."""
    src, dst = f"{base_dir}/store_sales", f"{out_dir}/store_sales"
    os.makedirs(dst)
    kept = 0
    for i, name in enumerate(sorted(f for f in os.listdir(src) if f.endswith(".parquet"))):
        tbl = pq.read_table(f"{src}/{name}")
        keep = np.random.default_rng([seed, i]).random(tbl.num_rows) < TPCDS_KEEP
        tbl = tbl.filter(pa.array(keep))
        pq.write_table(tbl, f"{dst}/{name}", compression="snappy")
        kept += tbl.num_rows
    return kept


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def provision(cache_root: str, workload: str, kind: str, params: dict, seed: int) -> dict:
    """Return the manifest of the cached inputs, generating them first on
    a miss. The manifest's ``datagen_s`` is the generation wall time of
    the run that made them; ``cached`` says whether this call reused them."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    out_dir = os.path.join(cache_root, f"{workload}-{kind}-{tag}-s{seed}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return {**json.load(fh), "cached": True}
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    tables = None
    if kind == "tpcds_base":
        # child process: keeps generation's JIT and cache state out of
        # the JVM whose set-up and queries are measured
        subprocess.run(
            [sys.executable, "-m", "perfbench.inputs", tmp, str(seed), str(params["scale"])],
            check=True, cwd=ROOT,
            stdout=subprocess.DEVNULL, timeout=600,
        )
        with open(os.path.join(tmp, "rows.json")) as fh:
            rows = json.load(fh)
    elif kind == "tpcds":
        base = provision(cache_root, workload, "tpcds_base", params, TPCDS_BASE_SEED)
        rows = {**base["rows"], "store_sales": sample_store_sales(base["dir"], tmp, seed)}
        tables = {t: f"{base['dir']}/{t}" for t in rows}
        tables["store_sales"] = f"{tmp}/store_sales"
    elif kind == "driver":
        rows = write_driver_tables(tmp, seed, params["sf"])
    elif kind == "dedup":
        rows = write_dedup_inputs(tmp, seed, params["docs"], params["files"], params["per"])
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    manifest = {
        "dir": out_dir,
        "workload": workload,
        "params": params,
        "seed": seed,
        "rows": rows,
        "bytes": sum(_tree_bytes(t) for t in tables.values()) if tables else _tree_bytes(tmp),
        "datagen_s": time.perf_counter() - t0,
    }
    if tables:
        tables["store_sales"] = f"{out_dir}/store_sales"
        manifest["tables"] = tables
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, out_dir)
    return {**manifest, "cached": False}


if __name__ == "__main__":
    # child-process entry of provision(kind="tpcds"): <out_dir> <seed> <scale>
    target, seed_arg, scale_arg = sys.argv[1:4]
    counts = write_tpcds_tables(target, int(seed_arg), float(scale_arg))
    with open(os.path.join(target, "rows.json"), "w") as fh:
        json.dump(counts, fh)
