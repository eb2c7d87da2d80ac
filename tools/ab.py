#!/usr/bin/env python
"""One measurement entry point: A/B pairs, plans, timings, oracle checks,
query costs, per-stage profiles and per-step dedup micro-batch jobs
(``python tools/ab.py <sub> --help``).
"""

from __future__ import annotations

import argparse
import contextlib
import difflib
import json
import logging
import os
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUIET = {"spark.log.level": "ERROR"}
# argv: <cache root> <workload> <seed>...; run on a tree, with that tree's perfbench
PROVISION = ("import sys; from perfbench.inputs import provision; from perfbench.workloads"
             " import WORKLOADS; w = WORKLOADS[sys.argv[2]]()\nfor s in sys.argv[3:]:"
             " provision(sys.argv[1], w.name, w.kind, w.params, int(s))")


def git(*argv: str) -> str:
    return subprocess.check_output(["git", "-C", ROOT, *argv], text=True).strip()


def tree(rev: str | None) -> str:
    """``rev`` (default: the working tree's tracked files) under .perfbench/ab/<tree sha>/."""
    sha = git("rev-parse", "--verify", f"{rev or git('stash', 'create') or 'HEAD'}^{{tree}}")
    dest = os.path.join(ROOT, ".perfbench", "ab", sha)
    if not os.path.isdir(dest):
        os.makedirs(part := dest + ".part", exist_ok=True)  # renamed once complete
        tar = subprocess.run(["git", "-C", ROOT, "archive", sha], capture_output=True, check=True)
        subprocess.run(["tar", "-x", "-C", part], input=tar.stdout, check=True)
        os.rename(part, dest)
    return dest


def run_in(tree: str, argv: list[str], **kw) -> subprocess.CompletedProcess:
    """Python ``argv`` with cwd and PYTHONPATH (as UDF workers see it) on ``tree``, + tools/."""
    path = [tree, os.path.join(tree, "tests"), os.path.join(ROOT, "tools")]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    return subprocess.run([sys.executable, *argv], cwd=tree, env=env, **kw)


def pair_order(seed: int) -> tuple[str, str]:
    """The base runs first on odd seeds, the change on even ones."""
    return ("base", "change") if seed % 2 else ("change", "base")


def perfbench_run(tree: str, workload: str, seed: int, seconds: float) -> dict | None:
    """An untraced perfbench run: result line and provenance, or None (also if it made inputs)."""
    proc = run_in(tree, ["perfbench/run.py", "--workload", workload, "--seed", str(seed),
                         "--seconds", str(seconds), "--trace", "0"], capture_output=True, text=True)
    try:
        result = json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
        with open(os.path.join(tree, ".perfbench", "results", f"{workload}-s{seed}-t0.json")) as fh:
            result["provenance"] = json.load(fh)["provenance"]
        if not result["provenance"]["inputs_cached"]:
            raise ValueError(f"seed {seed}: inputs generated inside the timed run")
    except (IndexError, OSError, ValueError) as ex:
        print(proc.stdout[-1000:] + proc.stderr[-3000:], ex, file=sys.stderr)
        return None
    return result


def spread(xs: list[float]) -> tuple[float, ...]:
    """(Q1, median, Q3); one value is its own quartiles."""
    return tuple(statistics.quantiles(xs * 2 if len(xs) < 2 else xs, n=4, method="inclusive"))


def verdict(pairs: list[tuple[float | None, float | None]], bound: float,
            lower: bool = True, more_failed: bool = False) -> tuple[int, str]:
    """Change wins (ties count for neither) and verdict over seed-paired (base, change)
    values, None where a run gave none. ``better``: wins in 0.9 of all pairs, medians
    apart by more than the base IQR, no more failed ops. ``worse``: median worse by more
    than ``bound`` x base median. ``unresolved``: base IQR over that, runs not disjoint."""
    sign = 1.0 if lower else -1.0
    base = [b for b, _ in pairs if b is not None]
    change = [c for _, c in pairs if c is not None]
    if not base or not change:
        return 0, "no result"
    wins = sum(1 for b, c in pairs if b is not None and c is not None and sign * (b - c) > 0)
    q1, mb, q3 = spread(base)
    iqr, gain = q3 - q1, sign * (mb - statistics.median(change))
    if wins >= 0.9 * len(pairs) and gain > iqr and not more_failed:
        return wins, "better"
    if -gain > bound * abs(mb):
        return wins, "worse"
    if iqr > bound * abs(mb) and max(sign * c for c in change) >= min(sign * b for b in base):
        return wins, "unresolved"
    return wins, "within bound"


def report(spec: dict, runs: dict[str, list[dict | None]]) -> list[str]:
    """Conf, sources, one row per end-to-end metric of BENCHMARK.json, failed ops."""
    failed = {side: sum(r["failed"] for r in rs if r) for side, rs in runs.items()}
    provs = {side: next((r["provenance"] for r in rs if r), None) for side, rs in runs.items()}
    p = provs["base"] or provs["change"] or {}
    lines = [f"conf: master={p.get('master')} cores={p.get('nproc')}"
             f" shuffle.partitions={p.get('shuffle_partitions')}"]
    lines += [f"{side:6s} commit={p['git_commit'] or '-'} source={p['source_sha256']}"
              for side, p in provs.items() if p]
    lines.append(f"{'metric':16s} {'base median [Q1, Q3]':>28s} {'change median [Q1, Q3]':>28s}"
                 f" {'delta':>7s} {'wins':>5s}  verdict")
    for m in spec["end_to_end"]:
        pairs = [tuple(r["metrics"][m["name"]]["value"] if r else None for r in (b, c))
                 for b, c in zip(runs["base"], runs["change"])]
        wins, v = verdict(pairs, m["bound"], m["better"] == "lower",
                          failed["change"] > failed["base"])
        if v == "no result":
            lines.append(f"{m['name']:16s} {v}")
            continue
        sides = [spread([p[i] for p in pairs if p[i] is not None]) for i in (0, 1)]
        cells = [f"{med:.3f} [{q1:.3f}, {q3:.3f}]" for q1, med, q3 in sides]
        delta = 100.0 * (sides[1][1] / sides[0][1] - 1.0)
        lines.append(f"{m['name']:16s} {cells[0]:>28s} {cells[1]:>28s}"
                     f" {delta:+6.1f}%"
                     f" {wins:>2d}/{len(pairs):<2d}  {v}")
        if m["name"] == "heap_retained_mb" and v == "better" and abs(delta) < 1.0:
            lines.append(f"{'':16s} caveat: a heap_retained_mb `better` below 1% has"
                         " read `better` on identical code; rerun with the sides swapped")
    lines.append(f"failed ops: base {failed['base']}, change {failed['change']}")
    return lines


def pairs(args) -> int:
    spec = json.loads(Path(ROOT, "BENCHMARK.json").read_text())
    trees = {"base": tree(args.base), "change": tree(args.change)}
    seeds = range(1, args.pairs + 1)
    for side, t in trees.items():
        print(f"{side:6s} tree {t}", flush=True)  # its inputs made before any timed run
        run_in(t, ["-c", PROVISION, os.path.join(t, ".perfbench", "inputs"), args.workload,
                   *map(str, seeds)], check=True, stdout=subprocess.DEVNULL)
    runs: dict[str, list[dict | None]] = {"base": [], "change": []}
    for seed in seeds:
        for side in pair_order(seed):
            r = perfbench_run(trees[side], args.workload, seed, spec["run_seconds"])
            runs[side].append(r)
            shown = [f"{k}={v['value']:.3f}" for k, v in r["metrics"].items()] if r else []
            print(f"seed {seed:2d} {side:6s}", *shown,
                  f"failed={r['failed']}" if r else "NO RESULT", flush=True)
    print("\n".join(report(spec, runs)))
    return 0 if all(r for rs in runs.values() for r in rs) else 1


def normalize_plan(text: str) -> str:
    """Expression, plan and RDD ids differ between processes for one plan."""
    text = re.sub(r"RDD\[\d+\]", "RDD[x]", re.sub(r"plan_id=\d+", "plan_id=x", text))
    return re.sub(r"#\d+", "#x", text)


def plan(args) -> int:
    trees = {"base": tree(args.base)} if args.base else {}
    trees["change"] = tree(args.change)
    for n, (side, q) in enumerate((side, q) for side in trees for q in args.queries):
        os.makedirs(os.path.join(trees[side], ".perfbench", "plans"), exist_ok=True)
        out = os.path.join(trees[side], ".perfbench", "plans", f"{q}.txt")
        run_in(trees[side], ["-c", f"import ab; ab.capture_plan({q!r}, {out!r}, {n == 0})"],
               check=True)
        print(out, flush=True)
    for q in args.queries if args.base else []:
        base, change = (Path(t, ".perfbench", "plans", f"{q}.txt").read_text().splitlines(True)
                        for t in trees.values())
        diff = "".join(difflib.unified_diff(base, change, f"base/{q}", f"change/{q}"))
        print(f"{q}: " + (f"differs\n{diff}" if diff else "identical"))
    return 0


def sf_dir(sf: str = "") -> str:
    """A testdata scale directory; bench.py's ($SPARK_GRAFT_SF_DIR or sf0.1) by default."""
    import __spark_entry__ as entry

    default = os.environ.get("SPARK_GRAFT_SF_DIR", "") if not sf else ""
    return default or os.path.join(os.path.dirname(entry.SF0001), sf or "sf0.1")


def show_conf(spark):
    """Print the effective conf; tune_session resets it on the first table load."""
    sc = spark.sparkContext
    print(f"conf: master={sc.master} cores={sc.defaultParallelism}"
          f" shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')}", flush=True)
    return spark


def driver_session():
    """A stock session like the external driver's, at local[nproc]."""
    from perfbench.session import cores
    from pyspark.sql import SparkSession

    conf = {"spark.sql.shuffle.partitions": str(cores()), "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false", **QUIET}
    return show_conf(SparkSession.builder.master(f"local[{cores()}]").appName("ab-driver")
                     .config(map=conf).getOrCreate())


def bench_session(app: str, conf: dict[str, str]):
    """bench.py's session after its flagship warm-up. Each ``conf`` entry goes
    to the builder and again after ``tune_session``, which resets some."""
    from pyspark.errors import AnalysisException

    from bench import sample_query
    from spark_sql_perf_spark import catalog
    from spark_sql_perf_spark.operators import QUERIES
    from spark_sql_perf_spark.session import build_session

    spark = build_session(app_name=app, extra_conf={**conf, **QUIET})
    catalog.tune_session(spark)
    for k, v in conf.items():  # a cluster-static conf is already applied via the builder
        with contextlib.suppress(AnalysisException):
            spark.conf.set(k, v)
    sample_query(spark, sf_dir(), QUERIES["flagship_star_agg"], 1)
    return show_conf(spark)


def capture_plan(name: str, out: str, show: bool) -> None:
    """Run ``name`` once and write its normalized final executed plan."""
    from spark_sql_perf_spark.operators import QUERIES
    from spark_sql_perf_spark.session import build_session

    spark = build_session(app_name="ab-plan", extra_conf=QUIET)
    df = QUERIES[name](spark, sf_dir())
    if show:
        show_conf(spark)
    df.collect()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    Path(out).write_text(normalize_plan(df._jdf.queryExecution().explainString(mode)))
    spark.stop()


def time_queries(a: argparse.Namespace) -> None:
    """bench.py's protocol: flagship warm-up, WARM_IN, min-of-5."""
    from bench import WARM_IN, sample_query
    from spark_sql_perf_spark.operators import QUERIES

    spark = bench_session("ab-time", dict(kv.split("=", 1) for kv in a.conf))
    for name in a.queries:
        sample_query(spark, sf_dir(), QUERIES[name], WARM_IN.get(name, 0))
        ts = sample_query(spark, sf_dir(), QUERIES[name], 5)
        print(name, "min", min(ts), ts, flush=True)
    spark.stop()


def oracle(a: argparse.Namespace) -> None:
    """Compare queries with their DuckDB oracles; with no names, the whole
    driver simulation: the entry() smoke run, then every query."""
    import __spark_entry__ as entry
    import duckdb
    from oracle_check import compare_frames, register_duckdb_views

    spark = driver_session()
    qs, oracles, names = entry.queries(), entry.oracle_sql(), a.queries
    fails, matched = [], 0
    if not names:  # the driver's smoke run
        n = len(entry.entry(spark).collect())
        fails += [] if n else ["entry() returned no rows"]
        print(f"  entry(): {'OK' if n else 'FAIL'} ({n} rows)", flush=True)
    for sf in a.sf.split(","):
        with duckdb.connect() as con:
            register_duckdb_views(con, sf_dir(sf))
            for name in names or sorted(qs):
                try:
                    spdf = qs[name](spark, sf_dir(sf)).toPandas()
                    if name in oracles:
                        compare_frames(spdf, con.execute(oracles[name]).df(), name)
                        matched += 1
                    state = "MATCH" if name in oracles else "no_oracle"
                    print(f"  {sf} {name}: {state} ({len(spdf)} rows)", flush=True)
                except Exception as ex:  # noqa: BLE001  (report every failing query)
                    fails.append(f"{sf} {name}")
                    print(f"  {sf} {name}: FAIL {str(ex)[:300]}", flush=True)
    spark.stop()
    if fails:
        sys.exit(f"FAILS: {fails}")
    print(f"ALL MATCH ({matched} oracle comparisons)")


def costs(a: argparse.Namespace) -> None:
    """Rewrite tools/query_costs.json: wall time per query at sf0.01 in driver
    order, after entry() as the driver does, so no query absorbs the first job."""
    import __spark_entry__ as entry

    spark = driver_session()
    entry.entry(spark).collect()
    times: dict[str, float] = {}
    for name, fn in entry.queries().items():
        t0 = time.monotonic()
        try:
            state = f"{len(fn(spark, sf_dir('sf0.01')).toPandas()):8d} rows"
        except Exception as ex:  # noqa: BLE001  (a failing query still gets a cost)
            state = f"FAIL {str(ex)[:120]}"
        times[name] = round(time.monotonic() - t0, 3)
        print(f"{times[name]:8.3f}s  {state}  {name}", flush=True)
    out = {"costs": times, "total_s": round(sum(times.values()), 1)}
    Path(entry._COSTS_FILE).write_text(json.dumps(out, indent=1, sort_keys=True))
    print(f"TOTAL {out['total_s']}s for {len(times)} queries -> {entry._COSTS_FILE}")
    spark.stop()


def stages(a: argparse.Namespace) -> None:
    """Each query (default bench.HEADLINE) warm, then its next run's stages (UI off)."""
    from bench import HEADLINE, WARM_IN, sample_query
    from perfbench.trace import exec_metrics, spark_activity
    from spark_sql_perf_spark.operators import QUERIES

    spark = bench_session("ab-stages", {"spark.ui.enabled": "false"})
    columns = ("numCompleteTasks", "executorRunTime", "executorCpuTime", "inputBytes",
               "shuffleReadBytes", "shuffleWriteBytes")
    for name in a.queries or HEADLINE:
        sample_query(spark, sf_dir(), QUERIES[name], WARM_IN.get(name, 0) + 1)
        lo = time.time()
        sample_query(spark, sf_dir(), QUERIES[name], 1)
        hi = time.time()
        act = spark_activity(spark)
        m = exec_metrics(act["jobs"], act["stages"], lo, hi, spark.sparkContext.defaultParallelism)
        print(f"\n{name}: wall {hi - lo:.3f}s, {m['exec.jobs']} jobs, {m['exec.stages']} stages,"
              f" task run {m['exec.task_run_s']:.3f}s, driver gap {m['exec.driver_gap_s']:.3f}s")
        ran = [s for s in act["stages"] if s["submissionTime"] and lo <= s["submissionTime"] <= hi]
        for s in sorted(ran, key=lambda s: -s["executorRunTime"]):
            print(f"  stage {s['stageId']}", *(f"{k}={s[k]}" for k in columns),
                  f"spilledBytes={(s['memoryBytesSpilled'] or 0) + (s['diskBytesSpilled'] or 0)}",
                  s["name"].splitlines()[0][:50])
    spark.stop()


OUTSIDE = "(outside every step)"


def step_times(steps: list[tuple[str, float, float]], jobs: list[tuple[str, float, float | None]],
               lo: float, hi: float) -> dict[str, tuple[int, float, float, float]]:
    """One micro-batch [lo, hi]: {step: (jobs, wall, job-busy, driver = wall - busy)}, and
    the same under OUTSIDE for the time outside every step. ``steps`` are job_step's
    (name, start, end) spans; ``jobs`` are (description, submitted, completed or None)
    spans, a step's jobs described by its name. Steps do not nest; times are epoch seconds."""
    from perfbench.trace import union_length

    walls: dict[str, list[tuple[float, float]]] = {}
    for name, start, end in steps:
        if start < hi and end > lo:
            walls.setdefault(name, []).append((max(start, lo), min(end, hi)))
    busy: dict[str, list[tuple[float, float]]] = {}
    for name, start, end in jobs:
        if lo <= start <= hi:
            busy.setdefault(name if name in walls else OUTSIDE, []).append(
                (start, min(end or hi, hi)))
    inside = union_length([s for spans in walls.values() for s in spans])
    wall = {name: union_length(spans) for name, spans in walls.items()}
    wall[OUTSIDE] = hi - lo - inside
    out = {}
    for name, w in wall.items():
        b = union_length(busy.get(name, []))
        out[name] = (len(busy.get(name, [])), w, b, w - b)
    return out


class StepLog(logging.Handler):
    """Collects job_step's DEBUG records as (name, start, end) spans."""

    def __init__(self) -> None:
        super().__init__(logging.DEBUG)
        self.spans: list[tuple[str, float, float]] = []

    def emit(self, record: logging.LogRecord) -> None:
        self.spans.append(record.args)


def steps(a: argparse.Namespace) -> None:
    """One dedup_stream drain on the checkout: per micro-batch and step (job_step),
    the jobs, wall, job-busy and driver seconds, and the time outside every step."""
    from perfbench.inputs import provision
    from perfbench.session import start_session, stop_session
    from perfbench.trace import Tracer, spark_activity, union_length
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS["dedup_stream"]()
    state = os.path.join(ROOT, ".perfbench")
    manifest = provision(os.path.join(state, "inputs"), w.name, w.kind, w.params, a.seed)
    spark = start_session(ROOT)
    log, step_log = logging.getLogger("spark_sql_perf_spark.metrics"), StepLog()
    try:
        show_conf(spark)
        w.setup(spark, manifest, os.path.join(state, "work", "ab-steps"), Tracer(False, "ab"))
        log.addHandler(step_log)
        log.setLevel(logging.DEBUG)
        ops = w.run_pass(spark, 0, Tracer(False, "ab")).ops
        log.removeHandler(step_log)
        jobs = spark_activity(spark)["jobs"]
        store = spark.sparkContext._jsc.sc().statusStore()
        it = store.jobsList(spark.sparkContext._jvm.java.util.ArrayList()).iterator()
        names = {}
        while it.hasNext():
            j = it.next()
            d = j.description()
            names[j.jobId()] = d.get().splitlines()[0] if d.isDefined() else "(unnamed)"
    finally:
        stop_session(spark)
    spans = [(names.get(j["jobId"], "(unnamed)"), j["submissionTime"], j["completionTime"])
             for j in jobs if j["submissionTime"]]
    for op in ops:
        if op.error:
            print(f"\n{op.name}: FAILED {op.error.strip().splitlines()[-1]}")
            continue
        lo, hi = op.extra["start"], op.extra["start"] + op.latency_s
        ran = [(s, e or hi) for _, s, e in spans if lo <= s <= hi]
        kind = "compacting" if op.extra["compacted"] else "plain"
        print(f"\nmicro-batch {op.extra['batch_id']} ({op.name}, {kind}): wall {op.latency_s:.3f}s,"
              f" {len(ran)} jobs, job-busy {union_length(ran):.3f}s")
        print(f"  {'step':28s} {'jobs':>4s} {'wall':>7s} {'busy':>7s} {'driver':>7s}")
        rows = step_times(step_log.spans, spans, lo, hi)
        for step, (n, wall, busy, driver) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
            print(f"  {step:28s} {n:4d} {wall:7.3f} {busy:7.3f} {driver:7.3f}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs", help="alternate perfbench runs of two trees and compare them")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--base", default="HEAD", help="revision (default HEAD)")
    p.add_argument("--change", help="revision (default: the working tree's tracked files)")
    p = sub.add_parser("plan", help="final executed plans, one fresh process per query")
    p.add_argument("--base", help="revision to diff against")
    p.add_argument("--change", help="revision (default: the working tree's tracked files)")
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("time", help="bench.py's min-of-5 protocol over named queries")
    p.add_argument("--conf", action="append", default=[], metavar="k=v")
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("oracle", help="DuckDB oracle check; no names runs the driver simulation")
    p.add_argument("--sf", default="sf0.001,sf0.01", help="comma-separated testdata scales")
    p.add_argument("queries", nargs="*")
    sub.add_parser("costs", help="rewrite tools/query_costs.json in a driver-like session")
    p = sub.add_parser("stages", help="per-stage rows of each query's warm run")
    p.add_argument("queries", nargs="*", help="default: bench.HEADLINE")
    p = sub.add_parser("steps", help="wall, job-busy and driver seconds per step of a dedup drain")
    p.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    if any("=" not in kv for kv in getattr(args, "conf", [])):
        ap.error("--conf takes k=v")
    if args.cmd not in ("pairs", "plan"):  # on the checkout, as run_in sets up a child
        os.chdir(ROOT)
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.path.join(ROOT, "tests")])
        sys.path[:0] = os.environ["PYTHONPATH"].split(os.pathsep)
    return {"pairs": pairs, "plan": plan, "time": time_queries, "oracle": oracle,
            "costs": costs, "stages": stages, "steps": steps}[args.cmd](args) or 0


if __name__ == "__main__":
    sys.exit(main())
