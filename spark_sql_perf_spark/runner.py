"""Experiment runner: iterations x cartesian(variations) x queries, with
per-phase Catalyst timing, join-type scrape, timeout, and a JSON results
store — the reference's Benchmark.scala:299-458 / Benchmarkable.scala:38-107
/ Query.scala:70-142 re-expressed for PySpark.

Phase timing reaches the JVM QueryExecution through py4j and forces the
same four lazy plans the reference times (logical -> analyzed -> optimized
-> executed). py4j round-trips happen *between* phases, not inside them,
so the measured spans are JVM work.
"""

from __future__ import annotations

import json
import os
import threading
import time
import traceback
from collections.abc import Iterable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from . import memo
from .query import BenchmarkResult, ExperimentRun, Query, Variation, cartesian


def _time_ms(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1000.0


def phase_times(df: DataFrame) -> dict[str, float]:
    """Force Catalyst's four plans in order, timing each (Query.scala:73-84).

    PySpark builds the analyzed plan eagerly at DataFrame construction, so
    parsing/analysis are usually ~0 here; they are still forced for parity
    and for the SQL entry path where they do run lazily.
    """
    qe = df._jdf.queryExecution()
    return {
        "parsing_time_ms": _time_ms(qe.logical),
        "analysis_time_ms": _time_ms(qe.analyzed),
        "optimization_time_ms": _time_ms(qe.optimizedPlan),
        "planning_time_ms": _time_ms(qe.executedPlan),
    }


def join_types(df: DataFrame) -> list[str]:
    """Scrape join operator names from the executed plan (Query.scala:140-142)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    seen: list[str] = []
    for line in plan.splitlines():
        node = line.lstrip("+-*: (0123456789)")
        name = node.split(" ", 1)[0]
        if "Join" in name and name not in seen:
            seen.append(name)
    return seen


class BenchmarkTimeout(Exception):
    pass


def _run_with_timeout(spark: SparkSession, group: str, fn, timeout_s: float | None):
    """Run fn in a daemon thread; cancel the Spark job group on timeout
    (Benchmarkable.scala:67-107 semantics via setJobGroup/cancelJobGroup)."""
    if timeout_s is None:
        return fn()
    box: dict[str, Any] = {}

    def target():
        spark.sparkContext.setJobGroup(group, f"benchmark {group}", True)
        try:
            box["value"] = fn()
        except BaseException as e:  # noqa: BLE001 — captured for the result record
            box["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        raise BenchmarkTimeout(f"{group} exceeded {timeout_s}s")
    if "error" in box:
        raise box["error"]
    return box.get("value")


class ExperimentRunner:
    """Run a set of queries under iterations x variation combinations.

    Results land as JSON lines under `results_location/timestamp=<ms>/`
    (Benchmark.scala:446-452 layout) and are loadable with spark.read.json.
    """

    def __init__(
        self,
        spark: SparkSession,
        results_location: str = "results",
        timeout_s: float | None = 600.0,
        tags: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.results_location = results_location
        self.timeout_s = timeout_s
        self.tags = tags or {}

    # -- single query ------------------------------------------------------
    def run_query(
        self,
        q: Query,
        parameters: dict[str, Any] | None = None,
        include_breakdown: bool = False,
        include_profile: bool = False,
    ) -> BenchmarkResult:
        res = BenchmarkResult(name=q.name, mode=q.mode.name, parameters=parameters or {})
        prof = None
        try:
            df = q.build(self.spark)
            res.__dict__.update(phase_times(df))
            res.join_types = join_types(df)
            if include_profile:
                # the reference's withCpuProfile wrapper (CpuProfile.scala)
                from .profiler import CpuProfiler

                prof = CpuProfiler(self.spark).start()
            t0 = time.perf_counter()
            value = _run_with_timeout(
                self.spark, q.name, lambda: q.mode.consume(df, q.name), self.timeout_s
            )
            res.execution_time_ms = (time.perf_counter() - t0) * 1000.0
            if prof is not None:
                p = prof.stop()
                prof = None
                res.profile = {
                    "n_ticks": p.n_ticks,
                    "hz": p.hz,
                    "collapsed": p.collapsed()[:40],
                }
            res.result = value
            if include_breakdown:
                # the reference's includeBreakdown flag (Query.scala:86-116):
                # execute every subtree bottom-up, timing each
                from .metrics import breakdown_execution

                res.breakdown = [
                    st.to_dict() for st in breakdown_execution(self.spark, df)
                ]
        except Exception:
            res.failure = traceback.format_exc(limit=10)
        finally:
            if prof is not None:  # failure path: don't leak the sampler
                prof.stop()
        return res

    def run_ml(self, name: str, params: dict[str, Any] | None = None) -> BenchmarkResult:
        """Run one ML battery entry as a Benchmarkable
        (MLTransformerBenchmarkable.scala:44-89 analog): fit time becomes
        execution_time_ms; params/metrics land in ml_params/ml_result."""
        from .ml.benchmarks import build_battery

        res = BenchmarkResult(name=f"ml:{name}", mode="ml")
        try:
            bench = build_battery()[name]
            ml = _run_with_timeout(
                self.spark, f"ml:{name}", lambda: bench.run(self.spark, params),
                self.timeout_s,
            )
            res.execution_time_ms = ml.fit_time_s * 1000.0
            res.ml_params = ml.params
            res.ml_result = {
                "metric": ml.metric_name,
                "train": ml.train_metric,
                "test": ml.test_metric,
            }
        except Exception:
            res.failure = traceback.format_exc(limit=10)
        return res

    # -- full experiment ---------------------------------------------------
    def run_experiment(
        self,
        queries: Sequence[Query],
        iterations: int = 3,
        variations: Iterable[Variation] = (),
        include_profile: bool = False,
    ) -> list[ExperimentRun]:
        runs: list[ExperimentRun] = []
        combos = cartesian(variations)
        ts = int(time.time() * 1000)
        # snapshot conf-backed variation keys; the experiment mutates the
        # session conf per combo and must not leak state past its end
        saved_conf: dict[str, str | None] = {}
        for v in variations:
            if v.conf_key is not None:
                saved_conf[v.conf_key] = self.spark.conf.get(v.conf_key, None)
        try:
            for iteration in range(1, iterations + 1):
                for combo in combos:
                    params: dict[str, Any] = {}
                    for variation, option in combo:
                        variation.setup(self.spark, option)
                        params[variation.name] = option
                    results = [
                        self.run_query(q, dict(params), include_profile=include_profile)
                        for q in queries
                    ]
                    runs.append(
                        ExperimentRun(
                            timestamp=ts,
                            iteration=iteration,
                            tags=dict(self.tags),
                            configuration=self._configuration(),
                            results=results,
                        )
                    )
                # post-iteration cleanup (Benchmarkable.scala:58-65 analog)
                memo.release_all()
                self.spark.catalog.clearCache()
        finally:
            # restore even on variation.setup failure / interrupt — the
            # session is shared and a leaked conf (e.g. AQE off) would
            # silently change every subsequent run; and release what an
            # interrupted iteration materialized
            memo.release_all()
            for key, val in saved_conf.items():
                if val is None:
                    self.spark.conf.unset(key)
                else:
                    self.spark.conf.set(key, val)
        self._write(runs, ts)
        return runs

    def _configuration(self) -> dict[str, Any]:
        sc = self.spark.sparkContext
        return {
            "sparkVersion": self.spark.version,
            "defaultParallelism": sc.defaultParallelism,
            "shufflePartitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": self.spark.conf.get("spark.sql.adaptive.enabled", "true"),
        }

    def _write(self, runs: list[ExperimentRun], ts: int) -> str:
        out_dir = os.path.join(self.results_location, f"timestamp={ts}")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, "results.json")
        with open(path, "w") as f:
            for run in runs:
                f.write(json.dumps(run.to_dict()) + "\n")
        return path
