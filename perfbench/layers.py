"""Per-layer metrics of a traced run.

Each metric is aggregated per pass (median over passes when a run makes
more than one) and is defined on every workload, so every run prints
the same set; a metric of a layer a workload does not use reads 0.
Names follow the repo's modules:

* ``session``, ``sources``: session start; input generation (taken from
  the cache manifest, so it is the time of the run that generated them).
* ``jvm.peak_rss_mb``: the driver JVM's peak resident set (``VmHWM``).
  It swings with G1's heap sizing by about a fifth between runs of the
  same code, too much for an end-to-end bound.
* ``setup.prepare_s``: table registration plus a warm-up query on the
  query workloads; ``build_probe_index`` on ``dedup_stream`` (the
  ``streaming.index_build_s`` there).
* ``operators``: building each query's DataFrame (or starting the
  streaming query): wall time, Spark jobs launched while building, and
  py4j commands sent.
* ``runner``: ``runner.phase_times`` per query (``catalyst_s`` is
  parsing + analysis + optimization + physical planning); on
  ``dedup_stream`` ``catalyst_s`` is the micro-batches' ``queryPlanning``.
* ``modes.execute_s``: consuming the result (``toPandas``), or the
  micro-batches' ``addBatch``.
* ``loop.other_s``: pass wall time not in the three layers above
  (Python between calls; the stream engine's offset and commit work).
* ``exec``: Spark jobs, stages and tasks submitted during the pass,
  from the status store. ``exec.jobs_per_op`` stands for
  ``streaming.jobs_per_batch`` on ``dedup_stream``.
* ``memo``: storage still held after each op (max over the pass).
* ``streaming``: the micro-batches' ``durationMs`` parts summed over the
  drain, compaction against plain batches, and what the drain stored.
"""

from __future__ import annotations

import statistics

from perfbench.trace import exec_metrics

UNITS = {
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MiB",
    "sources.datagen_s": "s",
    "setup.prepare_s": "s",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.py4j_calls": "count",
    "runner.catalyst_s": "s",
    "runner.analysis_s": "s",
    "runner.optimization_s": "s",
    "runner.planning_s": "s",
    "modes.execute_s": "s",
    "loop.other_s": "s",
    "exec.jobs": "count",
    "exec.jobs_per_op": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_failed": "count",
    "exec.job_busy_s": "s",
    "exec.driver_gap_s": "s",
    "exec.driver_gap_share": "ratio",
    "exec.slot_util": "ratio",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "memo.persisted_rdds_after": "count",
    "memo.storage_held_bytes": "bytes",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.compact_batch_s": "s",
    "streaming.plain_batch_s": "s",
    "streaming.input_reads_per_row": "ratio",
    "streaming.index_files": "count",
    "streaming.stored_bytes_per_input_byte": "ratio",
    "streaming.ingest_docs_per_s": "1/s",
}

_PHASES = ("parsing_s", "analysis_s", "optimization_s", "planning_s")


def _sum(ops, key: str) -> float:
    return sum(op.parts.get(key) or 0 for op in ops)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _within(t: float, intervals: list[tuple[float, float]]) -> bool:
    return any(lo <= t <= hi for lo, hi in intervals)


def pass_layers(p, jobs, stages, construct_spans, cores: int, extra: dict) -> dict:
    ops = p.ops
    streaming = "streaming" in extra
    pass_parts = p.extra.get("parts", {})
    construct = _sum(ops, "construct_s") + pass_parts.get("construct_s", 0.0)
    catalyst = _sum(ops, "query_planning_s") if streaming else sum(_sum(ops, k) for k in _PHASES)
    execute = _sum(ops, "execute_s")
    out = {
        "operators.construct_s": construct,
        "operators.construct_jobs": sum(
            1 for j in jobs
            if j["submissionTime"] is not None and _within(j["submissionTime"], construct_spans)
            and p.start <= j["submissionTime"] <= p.end
        ),
        "operators.py4j_calls": _sum(ops, "py4j_calls") + (pass_parts.get("py4j_calls") or 0),
        "runner.catalyst_s": catalyst,
        "modes.execute_s": execute,
        "loop.other_s": p.wall_s - construct - catalyst - execute,
    }
    for k in _PHASES[1:]:
        out[f"runner.{k}"] = 0.0 if streaming else _sum(ops, k)
    ex = exec_metrics(jobs, stages, p.start, p.end, cores)
    out.update(ex)
    out["exec.jobs_per_op"] = ex["exec.jobs"] / len(ops)
    out["exec.driver_gap_share"] = ex["exec.driver_gap_s"] / p.wall_s
    held = [op.extra for op in ops if "held_bytes" in op.extra] or [extra]
    out["memo.persisted_rdds_after"] = max(h.get("persisted_rdds", 0) for h in held)
    out["memo.storage_held_bytes"] = max(h.get("held_bytes", 0) for h in held)
    st = extra.get("streaming", {})
    ran = [op for op in ops if op.latency_s is not None]
    delivered = st.get("delivered_rows", 0)
    out.update({
        "streaming.trigger_s": sum(op.latency_s for op in ran) if streaming else 0.0,
        "streaming.add_batch_s": execute if streaming else 0.0,
        "streaming.latest_offset_s": _sum(ops, "latest_offset_s"),
        "streaming.query_planning_s": catalyst if streaming else 0.0,
        "streaming.commit_s": _sum(ops, "commit_s"),
        "streaming.compact_batch_s": _median([o.latency_s for o in ran if o.extra.get("compacted")]),
        "streaming.plain_batch_s": _median(
            [o.latency_s for o in ran if streaming and not o.extra.get("compacted")]
        ),
        "streaming.input_reads_per_row": (
            sum(op.extra.get("num_input_rows", 0) for op in ops) / delivered if delivered else 0.0
        ),
        "streaming.index_files": st.get("index_files", 0),
        "streaming.stored_bytes_per_input_byte": st.get("stored_bytes_per_input_byte", 0.0),
        "streaming.ingest_docs_per_s": delivered / p.wall_s,
    })
    return out


def compute(passes, activity, tracer, extra, *, session_s, prepare_s,
            manifest, cores, untraced) -> tuple[dict, dict]:
    """(per-layer metrics, detail for the trace record)."""
    jobs, stages = activity["jobs"], activity["stages"]
    construct_spans = [(s.start, s.end) for s in tracer.spans if s.name == "construct"]
    per_pass = [pass_layers(p, jobs, stages, construct_spans, cores, extra) for p in passes]
    metrics = {
        "session.start_s": session_s,
        "sources.datagen_s": manifest["datagen_s"],
        "setup.prepare_s": prepare_s,
        "jvm.peak_rss_mb": extra["jvm.peak_rss_mb"],
    }
    for k in UNITS:
        if k not in metrics:
            metrics[k] = statistics.median(pp[k] for pp in per_pass)
    return metrics, detail(passes, untraced)


def detail(passes, untraced: dict | None) -> dict:
    """Tracing overhead, and per query the layer sum against the same
    query's untraced wall time."""
    ops = [op for p in passes for op in p.ops if op.error is None]
    out: dict = {"pass_s_traced": statistics.median(p.wall_s for p in passes)}
    if untraced:
        out["pass_s_untraced"] = untraced["end_to_end"]["pass_s"]["value"]
        out["tracing_overhead_share"] = out["pass_s_traced"] / out["pass_s_untraced"] - 1
    if not any("analysis_s" in op.parts for op in ops):
        return out
    # construct + the three Catalyst phases + execute against the same
    # query's wall time in the untraced run of this seed
    base = {}
    if untraced:
        for p in untraced["passes"]:
            for o in p["ops"]:
                if o["latency_s"] is not None:
                    base.setdefault(o["name"], o["latency_s"])
    cover = {}
    for op in ops:
        layered = op.parts["construct_s"] + sum(op.parts[k] for k in _PHASES) + op.parts["execute_s"]
        ref = base.get(op.name)
        cover[op.name] = {
            "layers_s": layered,
            "traced_wall_s": op.latency_s,
            "untraced_wall_s": ref,
            "ratio_to_untraced": layered / ref if ref else None,
        }
    ratios = [c["ratio_to_untraced"] for c in cover.values() if c["ratio_to_untraced"]]
    out["layer_coverage"] = cover
    out["queries_within_10pct_of_untraced"] = (
        sum(abs(r - 1) <= 0.10 for r in ratios) / len(ratios) if ratios else None
    )
    return out
