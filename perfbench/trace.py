"""Spans, self time, and Spark activity read from the status store.

Spans are kept in memory and written out once, when the run ends. Times
are epoch seconds so benchmark-side spans line up with the job and
stage timestamps Spark records (epoch milliseconds).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover;
    time covered by several overlapping children counts once."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children[s.parent].append((lo, hi))
    return {s.id: s.duration - union_length(children[s.id]) for s in spans}


class Tracer:
    """Collects spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.trace_id, attrs))
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, self.current, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def enclosing(self, t: float, among: list[Span] | None = None) -> int | None:
        """Deepest benchmark-side span whose interval contains ``t``."""
        best = None
        for s in among if among is not None else self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.id if best else None

    def self_time_by_name(self) -> dict[str, float]:
        own = self_times(self.spans)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += own[s.id]
        return dict(out)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class Py4jCounter:
    """Counts commands sent to the JVM over py4j while ``active``."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self.active = False
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.active:
                self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted


@contextmanager
def counting(counter: Py4jCounter | None):
    """Count py4j commands inside the block into ``box["py4j_calls"]``;
    a no-op (``box`` stays empty) without a counter."""
    box: dict[str, int] = {}
    if counter is None:
        yield box
        return
    before = counter.calls
    counter.active = True
    try:
        yield box
    finally:
        counter.active = False
        box["py4j_calls"] = counter.calls - before


# --------------------------------------------------------------------------
# Spark's in-process status store (works with the UI disabled)
# --------------------------------------------------------------------------

_STAGE_KEYS = (
    "stageId", "attemptId", "status", "numTasks", "numCompleteTasks",
    "numFailedTasks", "submissionTime", "completionTime", "executorRunTime",
    "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "name",
)
_JOB_KEYS = (
    "jobId", "status", "submissionTime", "completionTime", "stageIds",
    "numTasks", "numFailedTasks",
)


def spark_activity(spark) -> dict:
    """Every job and stage the status store holds, as dicts
    (times converted to epoch seconds). One py4j round trip per list:
    the JVM serializes them to JSON."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def load(seq, keys):
        rows = json.loads(mapper.writeValueAsString(seq))
        out = []
        for r in rows:
            d = {k: r.get(k) for k in keys}
            for k in ("submissionTime", "completionTime"):
                if d.get(k) is not None:
                    d[k] = d[k] / 1000.0
            out.append(d)
        return out

    return {
        "jobs": load(store.jobsList(empty), _JOB_KEYS),
        "stages": [
            s for s in load(
                store.stageList(empty, False, False, no_quantiles, empty), _STAGE_KEYS
            )
            if s["status"] not in ("SKIPPED", "PENDING")
        ],
    }


def storage_held(spark) -> tuple[int, int]:
    """(persisted RDD count, bytes held in memory and on disk)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    rdds = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc._jsc.sc().statusStore().rddList(True)
    )
    held = sum(int(r.memoryUsed()) + int(r.diskUsed()) for r in rdds)
    return int(sc._jsc.getPersistentRDDs().size()), held


def exec_metrics(jobs: list[dict], stages: list[dict], lo: float, hi: float, cores: int) -> dict:
    """Aggregate the jobs and stages submitted within [lo, hi]."""
    jobs = [j for j in jobs if j["submissionTime"] is not None and lo <= j["submissionTime"] <= hi]
    stages = [s for s in stages if s["submissionTime"] is not None and lo <= s["submissionTime"] <= hi]
    busy = union_length([
        (j["submissionTime"], j["completionTime"] or hi) for j in jobs
    ])
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0

    def total(key: str) -> int:
        return sum(s[key] or 0 for s in stages)

    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": total("numCompleteTasks") + total("numFailedTasks"),
        "exec.tasks_failed": total("numFailedTasks"),
        "exec.job_busy_s": busy,
        "exec.driver_gap_s": (hi - lo) - busy,
        "exec.slot_util": run_s / (busy * cores) if busy > 0 else 0.0,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": total("executorCpuTime") / 1e9,
        "exec.gc_s": total("jvmGcTime") / 1000.0,
        "exec.input_bytes": total("inputBytes"),
        "exec.shuffle_write_bytes": total("shuffleWriteBytes"),
        "exec.shuffle_read_bytes": total("shuffleReadBytes"),
        "exec.spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
    }


def attach_spark_spans(tracer: Tracer, jobs: list[dict], stages: list[dict]) -> None:
    """Add job and stage spans; a job's parent is the deepest
    benchmark-side span enclosing its submission, a stage's its job."""
    bench_spans = list(tracer.spans)
    stage_job = {sid: j["jobId"] for j in jobs for sid in j["stageIds"]}
    job_span: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["submissionTime"] or 0):
        if j["submissionTime"] is None:
            continue
        parent = tracer.enclosing(j["submissionTime"], bench_spans)
        end = j["completionTime"] or j["submissionTime"]
        job_span[j["jobId"]] = tracer.add(
            "job", j["submissionTime"], end, parent, job_id=j["jobId"], status=j["status"]
        )
    for s in stages:
        end = s["completionTime"] or s["submissionTime"]
        parent = job_span.get(stage_job.get(s["stageId"]))
        tracer.add(
            "stage", s["submissionTime"], end, parent,
            stage_id=s["stageId"], tasks=s["numTasks"], run_s=s["executorRunTime"] / 1000.0,
        )
