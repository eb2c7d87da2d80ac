"""The three workloads: what one pass runs, what set-up prepares, and
how each operation's output is checked.

An *operation* (op) is one query execution (``headline_sf001``,
``tpcds_sf1``) or one streaming micro-batch (``dedup_stream``). A
*pass* is one run over the query list, or one drain of all arrival
files. One client drives a closed loop: the next op starts only after
the previous one finished.

Every op is timed from the start of its construction to the end of
its execution. Checks run after the pass, outside the timed region.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench.trace import Py4jCounter, Tracer, counting, storage_held


@dataclass
class Op:
    name: str
    latency_s: float | None = None  # None when the op raised
    error: str | None = None
    parts: dict = field(default_factory=dict)  # construct/phases/execute seconds
    result: object = None
    extra: dict = field(default_factory=dict)


@dataclass
class PassResult:
    start: float
    end: float
    ops: list[Op]
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def count_failures(ops: list[Op], check) -> int:
    """Run ``check(op)`` on every op that did not raise; an op counts as
    failed once if it raised, if the check returned a message, or if the
    check itself raised. Records the reason on the op."""
    failed = 0
    for op in ops:
        if op.error is None:
            try:
                reason = check(op)
            except Exception as e:  # a crashing check is a failed op, not a crashed run
                reason = f"check raised {type(e).__name__}: {e}"
            if reason:
                op.error = f"wrong result: {reason}"
        failed += op.error is not None
    return failed


class QueryLoop:
    """Shared closed loop of the two query workloads."""

    name = ""
    kind = ""
    params: dict = {}

    def __init__(self) -> None:
        self.counter: Py4jCounter | None = None

    def op_names(self) -> list[str]:
        raise NotImplementedError

    def register(self, spark, inputs: dict) -> None:
        raise NotImplementedError

    def build(self, spark, name: str):
        raise NotImplementedError

    def setup(self, spark, inputs: dict, work: str, tracer: Tracer) -> None:
        with tracer.span("prepare"):
            self.register(spark, inputs)
            spark.range(1_000).selectExpr("sum(id)").collect()

    def after_run(self, spark) -> dict:
        return {}

    def run_pass(self, spark, index: int, tracer: Tracer) -> PassResult:
        from spark_sql_perf_spark.runner import phase_times

        ops = []
        start = time.time()
        with tracer.span("pass", index=index):
            for name in self.op_names():
                op = Op(name)
                t0 = time.perf_counter()
                try:
                    with tracer.span("query", query=name):
                        c0 = time.perf_counter()
                        with tracer.span("construct"), counting(self.counter) as calls:
                            df = self.build(spark, name)
                        op.parts["construct_s"] = time.perf_counter() - c0
                        op.parts.update(calls)
                        if tracer.enabled:
                            p0 = time.time()
                            phases = phase_times(df)
                            for phase in ("parsing", "analysis", "optimization", "planning"):
                                d = phases[f"{phase}_time_ms"] / 1000.0
                                tracer.add(phase, p0, p0 + d, tracer.current)
                                op.parts[f"{phase}_s"] = d
                                p0 += d
                        e0 = time.perf_counter()
                        with tracer.span("execute"):
                            op.result = df.toPandas()
                        op.parts["execute_s"] = time.perf_counter() - e0
                    op.latency_s = time.perf_counter() - t0
                except Exception:
                    op.error = traceback.format_exc(limit=4)
                if tracer.enabled:
                    op.extra["persisted_rdds"], op.extra["held_bytes"] = storage_held(spark)
                ops.append(op)
        return PassResult(start, time.time(), ops)


class Headline(QueryLoop):
    """``bench.HEADLINE`` (19 queries) over generated driver-schema tables."""

    name = "headline_sf001"
    kind = "driver"
    params = {"sf": 0.01}

    def op_names(self) -> list[str]:
        from bench import HEADLINE

        return list(HEADLINE)

    def register(self, spark, inputs: dict) -> None:
        from spark_sql_perf_spark.catalog import TABLE_NAMES, table

        self.sf_dir = inputs["dir"]
        for t in TABLE_NAMES:
            table(spark, self.sf_dir, t)

    def build(self, spark, name: str):
        from spark_sql_perf_spark.operators import QUERIES

        return QUERIES[name](spark, self.sf_dir)

    def checker(self, spark, inputs: dict):
        import duckdb
        from oracle_check import compare_frames, register_duckdb_views
        from spark_sql_perf_spark.operators import ORACLES

        con = duckdb.connect()
        register_duckdb_views(con, inputs["dir"])
        expected: dict[str, pd.DataFrame] = {}

        def check(op: Op) -> None:
            if op.name not in expected:
                expected[op.name] = con.execute(ORACLES[op.name]).df()
            compare_frames(op.result, expected[op.name], op.name)  # raises on a mismatch

        return check


class TpcdsImpala(QueryLoop):
    """The 20 Impala-kit TPC-DS queries over ``gen_tpcds`` tables."""

    name = "tpcds_sf1"
    kind = "tpcds"
    params = {"scale": 1}

    def op_names(self) -> list[str]:
        from spark_sql_perf_spark.operators.impala_suite import IMPALA_QUERIES

        return sorted(IMPALA_QUERIES)

    def register(self, spark, inputs: dict) -> None:
        from spark_sql_perf_spark.operators.impala_suite import IMPALA_TABLES

        for t in IMPALA_TABLES:
            spark.read.parquet(inputs["tables"][t]).createOrReplaceTempView(t)

    def build(self, spark, name: str):
        from spark_sql_perf_spark.operators.impala_suite import IMPALA_QUERIES

        return spark.sql(IMPALA_QUERIES[name])

    def checker(self, spark, inputs: dict):
        import duckdb
        from spark_sql_perf_spark.operators.impala_suite import IMPALA_QUERIES, IMPALA_TABLES

        con = duckdb.connect()
        for t in IMPALA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs['tables'][t]}/*.parquet')"
            )
        expected: dict[str, pd.DataFrame] = {}

        def check(op: Op) -> str | None:
            if op.name not in expected:
                expected[op.name] = con.execute(IMPALA_QUERIES[op.name]).df()
            return frames_differ(op.result, expected[op.name])

        return check


def _numeric(s: pd.Series) -> bool:
    import decimal

    if pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
        return True
    nn = s.dropna()
    return len(nn) > 0 and isinstance(nn.iloc[0], decimal.Decimal)


def frames_differ(sp: pd.DataFrame, du: pd.DataFrame) -> str | None:
    """Engine-vs-engine comparison of one SQL result: non-empty, same
    shape, same rows in any order; numbers equal within 1e-6 (decimal
    and double divisions round differently in the two engines)."""
    if len(sp) == 0:
        return "empty result"
    if sp.shape != du.shape:
        return f"shape spark={sp.shape} duckdb={du.shape}"
    sp, du = sp.copy(), du.copy()
    du.columns = sp.columns = [f"c{i}" for i in range(sp.shape[1])]
    nums = [c for c in sp.columns if _numeric(sp[c]) or _numeric(du[c])]
    for df in (sp, du):
        for c in sp.columns:
            df[c] = pd.to_numeric(df[c], errors="coerce") if c in nums else df[c].astype(str)

    def ordered(df: pd.DataFrame) -> pd.DataFrame:
        key = df.copy()
        for c in nums:
            key[c] = key[c].round(4)
        idx = key.sort_values(list(df.columns), na_position="first").index
        return df.loc[idx].reset_index(drop=True)

    sp, du = ordered(sp), ordered(du)
    for c in sp.columns:
        if c in nums:
            a = sp[c].to_numpy(dtype="float64", na_value=np.nan)
            b = du[c].to_numpy(dtype="float64", na_value=np.nan)
            ok = np.isclose(a, b, rtol=1e-6, atol=1e-6) | (np.isnan(a) & np.isnan(b))
        else:
            ok = (sp[c] == du[c]).to_numpy()
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return f"column {c} row {i}: spark={sp[c][i]!r} duckdb={du[c][i]!r}"
    return None


class DedupStream:
    """``streaming_incremental_probe`` with a growing, compacted index."""

    name = "dedup_stream"
    kind = "dedup"
    params = {"docs": 1_000, "files": 5, "per": 40}
    # compact after the fourth micro-batch, whenever more than one delta
    # file has accreted (with five micro-batches the library's default
    # threshold of 64 files would never trigger a rewrite). The median
    # micro-batch is then a plain, warm one: the first batch pays the
    # loop's first-execution costs and varies by a quarter between runs
    compact_every = 4
    compact_max_files = 1
    MAX_MISS_SHARE = 0.2

    def __init__(self) -> None:
        self.counter: Py4jCounter | None = None

    def setup(self, spark, inputs: dict, work: str, tracer: Tracer) -> None:
        from spark_sql_perf_spark.streaming.dedup import build_probe_index

        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        self.inputs = inputs
        self.sf_dir = inputs["dir"]
        self.arrivals = f"{inputs['dir']}/arrivals"
        self.index = f"{work}/index"
        self.target = f"{work}/decisions"
        with tracer.span("prepare"):
            build_probe_index(spark, self.sf_dir, self.index)

    def after_run(self, spark) -> dict:
        from spark_sql_perf_spark.streaming.dedup import index_file_counts

        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for top in (self.index, self.target)
            for d, _, files in os.walk(top)
            for f in files
            if "_checkpoint" not in d
        )
        persisted, held = storage_held(spark)
        return {
            "streaming": {
                "delivered_rows": self.inputs["rows"]["arrival_rows"],
                "index_files": sum(index_file_counts(spark, self.index).values()),
                "stored_bytes_per_input_byte": stored / self.inputs["rows"]["arrival_bytes"],
            },
            "persisted_rdds": persisted,
            "held_bytes": held,
        }

    def run_pass(self, spark, index: int, tracer: Tracer) -> PassResult:
        from spark_sql_perf_spark.streaming.dedup import streaming_incremental_probe

        files = sorted(os.listdir(self.arrivals))
        parts: dict = {}
        start = time.time()
        error = None
        progress: list[dict] = []
        with tracer.span("pass", index=index):
            try:
                c0 = time.perf_counter()
                with tracer.span("construct"), counting(self.counter) as calls:
                    q = streaming_incremental_probe(
                        spark, self.sf_dir, self.arrivals, self.index, self.target,
                        max_files_per_trigger=1, grow_index=True,
                        compact_every=self.compact_every,
                        compact_max_files=self.compact_max_files,
                    )
                parts["construct_s"] = time.perf_counter() - c0
                parts.update(calls)
                with tracer.span("drain"):
                    q.awaitTermination(120)
                    if q.isActive:
                        q.stop()
                        raise TimeoutError("drain did not finish within 120 s")
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
                progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            except Exception:
                error = traceback.format_exc(limit=4)
        end = time.time()
        ops = []
        for i, f in enumerate(files):
            op = Op(f)
            if i < len(progress):
                p = progress[i]
                d = p["durationMs"]
                op.latency_s = d["triggerExecution"] / 1000.0
                op.parts = {
                    "execute_s": d.get("addBatch", 0) / 1000.0,
                    "query_planning_s": d.get("queryPlanning", 0) / 1000.0,
                    "latest_offset_s": d.get("latestOffset", 0) / 1000.0,
                    "commit_s": (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1000.0,
                }
                op.extra = {
                    "batch_id": p["batchId"],
                    "num_input_rows": p["numInputRows"],
                    "compacted": (p["batchId"] + 1) % self.compact_every == 0,
                    "start": _iso_epoch(p["timestamp"]),
                }
                if tracer.enabled:
                    s = op.extra["start"]
                    tracer.add(
                        "micro-batch", s, s + op.latency_s, tracer.enclosing(s),
                        batch_id=p["batchId"], file=f,
                    )
            else:
                op.error = error or "micro-batch never ran"
            ops.append(op)
        return PassResult(start, end, ops, extra={"parts": parts})

    def checker(self, spark, inputs: dict):
        """Truth from the planted arrivals. Every arriving id is decided
        exactly once; novels are novel; a near-duplicate or echo that
        matched, matched its planted source. The probe is minhash LSH
        (3 bands of 2 rows), which misses a pair of Jaccard similarity s
        with probability (1 - s^2)^3: at most 4.7% for the shortest
        planted pair (10 words plus a 2-word suffix), so an op fails
        when it misses more than MAX_MISS_SHARE of its planted
        duplicates. After the redelivery (the last file) no id is
        indexed twice and the index holds exactly the corpus plus the
        ids decided novel."""
        from pyspark.sql import functions as F
        from spark_sql_perf_spark.streaming.dedup import read_index_relation

        with open(f"{inputs['dir']}/truth.json") as fh:
            truth = {int(k): v for k, v in json.load(fh).items()}
        last_file = sorted(os.listdir(self.arrivals))[-1]
        state: dict = {}

        def load() -> dict:
            # read once, on the first check: a drain that failed leaves
            # nothing to read, and then every op's check fails
            if not state:
                decided: dict[int, list] = {}
                for r in spark.read.parquet(self.target).select(
                    "batch_id", "match_id_min", "is_novel"
                ).collect():
                    decided.setdefault(r["batch_id"], []).append(r)
                sigs = read_index_relation(spark, self.index, "sigs")
                state.update(
                    decided=decided,
                    novel=sum(rows[0]["is_novel"] for rows in decided.values()),
                    twice=sigs.groupBy("id").count().where(F.col("count") > 1).count(),
                    indexed=sigs.count(),
                )
            return state

        def check(op: Op) -> str | None:
            import pyarrow.parquet as pq

            st = load()
            ids = pq.read_table(f"{self.arrivals}/{op.name}", columns=["doc_id"]).column(0)
            reason = judge_file(ids.to_pylist(), truth, st["decided"], self.MAX_MISS_SHARE)
            if reason:
                return reason
            if op.name == last_file and (
                st["twice"] or st["indexed"] != inputs["rows"]["documents"] + st["novel"]
            ):
                return f"index holds {st['indexed']} rows ({st['twice']} ids twice) after redelivery"
            return None

        return check


def judge_file(ids: list[int], truth: dict, decided: dict, max_miss_share: float) -> str | None:
    """Judge one arrival file's decisions against the planted truth
    (``truth[id]`` is the id it must match, or None for a novel)."""
    planted = missed = 0
    for i in ids:
        got = decided.get(i, [])
        if len(got) != 1:
            return f"id {i} has {len(got)} decisions"
        want, r = truth[i], got[0]
        if want is None:
            if not r["is_novel"]:
                return f"novel id {i} matched {r['match_id_min']}"
            continue
        planted += 1
        if r["is_novel"]:
            missed += 1
        elif r["match_id_min"] != want:
            return f"id {i} matched {r['match_id_min']}, want {want}"
    if missed > max_miss_share * planted:
        return f"{missed} of {planted} planted near-duplicates missed"
    return None


def _iso_epoch(ts: str) -> float:
    # StreamingQueryProgress timestamps are ISO-8601 UTC with milliseconds
    return pd.Timestamp(ts).timestamp()


WORKLOADS = {w.name: w for w in (Headline, TpcdsImpala, DedupStream)}
