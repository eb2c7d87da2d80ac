"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``.perfbench/inputs``), the workload runs whole passes
until ``--seconds`` of measurement have elapsed, every operation's
output is checked after its pass, and the last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones; a traced run also writes its spans. Full records
(provenance, per-op detail) go to ``.perfbench/results``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

# The program under test. Without it (a directory holding only the
# benchmark) the run fails here, before any result is printed.
import bench  # noqa: E402,F401  (HEADLINE, read-only)
import spark_sql_perf_spark.operators  # noqa: E402,F401

from perfbench import inputs as inputs_mod  # noqa: E402
from perfbench import layers  # noqa: E402
from perfbench.session import (  # noqa: E402
    cores,
    heap_retained_mb,
    jvm_peak_rss_mb,
    jvm_pid,
    start_session,
    stop_session,
)
from perfbench.trace import Py4jCounter, Tracer, attach_spark_spans, spark_activity  # noqa: E402
from perfbench.workloads import WORKLOADS, count_failures  # noqa: E402

DEADLINE_S = 170  # the run must exit within 180 s


def source_digest() -> str:
    h = hashlib.sha256()
    for base in ("spark_sql_perf_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, base))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    with open(os.path.join(ROOT, "bench.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def provenance(spark, args, manifest: dict) -> dict:
    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "master": sc.master,
        "nproc": cores(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark_version": spark.version,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "input_params": manifest["params"],
        "input_rows": manifest["rows"],
        "input_bytes": manifest["bytes"],
        "inputs_cached": manifest["cached"],
    }


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)

    state_root = os.path.join(ROOT, ".perfbench")
    workload = WORKLOADS[args.workload]()
    gen0 = time.perf_counter()
    manifest = inputs_mod.provision(
        os.path.join(state_root, "inputs"), workload.name, workload.kind,
        workload.params, args.seed,
    )
    gen_here_s = time.perf_counter() - gen0

    tracer = Tracer(bool(args.trace), f"{workload.name}-s{args.seed}-{int(time.time())}")
    t0 = time.perf_counter()
    with tracer.span("run", workload=workload.name, seed=args.seed):
        with tracer.span("session"):
            spark = start_session(ROOT)
        try:
            session_s = time.perf_counter() - t0
            if args.trace:
                workload.counter = Py4jCounter(spark)
            p0 = time.perf_counter()
            workload.setup(spark, manifest, os.path.join(state_root, "work", workload.name), tracer)
            prepare_s = time.perf_counter() - p0
            # process start to first timed op, input generation excluded
            setup_s = time.perf_counter() - PROCESS_START - gen_here_s

            passes = []
            m0 = time.perf_counter()
            while not passes or time.perf_counter() - m0 < args.seconds:
                passes.append(workload.run_pass(spark, len(passes), tracer))
            measured_s = time.perf_counter() - m0
            heap_mb = heap_retained_mb(spark)

            check = workload.checker(spark, manifest)
            ops = [op for p in passes for op in p.ops]
            failed = count_failures(ops, check)
            activity = spark_activity(spark) if args.trace else None
            extra = workload.after_run(spark) if args.trace else {}
            extra["jvm.peak_rss_mb"] = jvm_peak_rss_mb(jvm_pid())
            prov = provenance(spark, args, manifest)
        finally:
            stop_session(spark)

    ok = [op.latency_s for op in ops if op.error is None]
    if not ok:
        raise RuntimeError(f"all {len(ops)} operations failed; first: {ops[0].error}")
    end_to_end = {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (statistics.median(p.wall_s for p in passes), "s", len(passes)),
        "op_p50_s": (statistics.median(ok), "s", len(ok)),
        "heap_retained_mb": (heap_mb, "MiB", 1),
    }
    # reported beside the metrics, not as metrics: error_rate is 0 on
    # correct code, and the peak RSS swings with G1's heap sizing
    reported = {
        "error_rate": (failed / len(ops), "ratio", len(ops)),
        "jvm_peak_rss_mb": (extra["jvm.peak_rss_mb"], "MiB", 1),
    }
    record = {
        "provenance": prov,
        "setup": {"session_s": session_s, "prepare_s": prepare_s, "setup_s": setup_s},
        "measured_s": measured_s,
        "attempted": len(ops),
        "failed": failed,
        "end_to_end": {
            k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in {**end_to_end, **reported}.items()
        },
        "passes": [
            {
                "wall_s": p.wall_s,
                "extra": p.extra,
                "ops": [
                    {"name": o.name, "latency_s": o.latency_s, "error": o.error,
                     "parts": o.parts, "extra": o.extra}
                    for o in p.ops
                ],
            }
            for p in passes
        ],
    }
    results_dir = os.path.join(state_root, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = f"{workload.name}-s{args.seed}-t{args.trace}"

    if args.trace:
        per_layer, detail = layers.compute(
            passes, activity, tracer, extra,
            session_s=session_s, prepare_s=prepare_s, manifest=manifest, cores=cores(),
            untraced=_load_json(os.path.join(results_dir, f"{workload.name}-s{args.seed}-t0.json")),
        )
        attach_spark_spans(tracer, activity["jobs"], activity["stages"])
        record["per_layer"] = per_layer
        record["layer_detail"] = detail
        record["self_time_s"] = tracer.self_time_by_name()
        with open(os.path.join(results_dir, f"{stem}.trace.json"), "w") as fh:
            json.dump({"trace_id": tracer.trace_id, "spans": tracer.to_json()}, fh)
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
        shown = {k: (v, layers.UNITS[k], len(passes)) for k, v in per_layer.items()}
        shown["pass_s (traced)"] = (detail["pass_s_traced"], "s", len(passes))
        if "pass_s_untraced" in detail:
            shown["pass_s (untraced, same seed)"] = (detail["pass_s_untraced"], "s", 1)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in end_to_end.items()}
        shown = {**end_to_end, **reported}
    with open(os.path.join(results_dir, f"{stem}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for op in ops:
        if op.error:
            print(f"FAILED {op.name}: {op.error.strip().splitlines()[-1]}")
    for k, (v, u, n) in shown.items():
        print(f"{k:34s} {v:>16.6f} {u:<6s} n={n}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _load_json(path: str) -> dict | None:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


if __name__ == "__main__":
    sys.exit(main())
