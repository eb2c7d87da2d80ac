"""Unit tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

from perfbench.inputs import driver_tables, write_dedup_inputs
from perfbench.trace import Span, Tracer, exec_metrics, self_times, union_length
from perfbench.workloads import Op, count_failures, frames_differ, judge_file


def test_union_counts_overlap_once():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_with_overlapping_children():
    # parent 0..10; children overlap on 3..4 and one sticks out past the
    # parent's end: covered = [1, 6] + [8, 10] = 7, so self = 3
    spans = [
        Span(0, "query", 0.0, 10.0, None, "t"),
        Span(1, "construct", 1.0, 4.0, 0, "t"),
        Span(2, "job", 3.0, 6.0, 0, "t"),
        Span(3, "job", 8.0, 12.0, 0, "t"),
        Span(4, "stage", 3.5, 5.0, 2, "t"),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(3.0)
    assert own[1] == pytest.approx(3.0)
    assert own[2] == pytest.approx(1.5)
    assert own[4] == pytest.approx(1.5)


def test_tracer_nests_and_finds_enclosing_span():
    tr = Tracer(True, "t")
    with tr.span("pass"):
        with tr.span("query"):
            inner = tr.current
    assert tr.spans[inner].parent == 0
    assert tr.enclosing((tr.spans[1].start + tr.spans[1].end) / 2) == 1
    off = Tracer(False, "t")
    with off.span("pass"):
        pass
    assert off.spans == []


def test_wrong_result_and_exception_each_count_one_failure():
    ops = [Op("ok"), Op("wrong"), Op("raised", error="Traceback: boom"), Op("crash")]

    def check(op):
        if op.name == "crash":
            raise ValueError("checker bug")
        return "rows differ" if op.name == "wrong" else None

    assert count_failures(ops, check) == 3
    assert ops[0].error is None
    assert ops[1].error.startswith("wrong result")
    assert ops[2].error == "Traceback: boom"  # not re-checked, counted once
    assert "checker bug" in ops[3].error


def test_frames_differ_is_order_insensitive_and_catches_errors():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0]})
    b = pd.DataFrame({"k": ["y", "x"], "v": [2.0, 1.0000000001]})
    assert frames_differ(a, b) is None
    assert "column" in frames_differ(a, pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.5]}))
    assert frames_differ(a.iloc[:0], b.iloc[:0]) == "empty result"
    assert frames_differ(a, b.iloc[:1]).startswith("shape")


def test_exec_metrics_slot_util_and_driver_gap():
    jobs = [
        {"submissionTime": 1.0, "completionTime": 3.0},
        {"submissionTime": 2.0, "completionTime": 4.0},  # overlaps the first
        {"submissionTime": 20.0, "completionTime": 21.0},  # outside the pass
    ]
    stage = {k: 0 for k in ("numCompleteTasks", "numFailedTasks", "executorCpuTime",
                            "jvmGcTime", "inputBytes", "shuffleWriteBytes",
                            "shuffleReadBytes", "memoryBytesSpilled", "diskBytesSpilled")}
    stages = [{**stage, "submissionTime": 1.5, "executorRunTime": 6_000, "numCompleteTasks": 4}]
    m = exec_metrics(jobs, stages, 0.0, 10.0, cores=4)
    assert m["exec.jobs"] == 2
    assert m["exec.job_busy_s"] == pytest.approx(3.0)
    assert m["exec.driver_gap_s"] == pytest.approx(7.0)
    assert m["exec.slot_util"] == pytest.approx(6.0 / (3.0 * 4))
    assert m["exec.tasks"] == 4


def test_driver_tables_are_a_function_of_the_seed():
    a, b, c = driver_tables(7, 0.001), driver_tables(7, 0.001), driver_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6_000 and a["documents"].num_rows == 500
    # money columns are exact two-decimal values
    cents = a["lineitem"].column("l_extendedprice").to_numpy() * 100
    assert (abs(cents - cents.round()) < 1e-6).all()


def test_dedup_arrivals_plant_every_kind(tmp_path):
    import pyarrow.parquet as pq

    rows = write_dedup_inputs(str(tmp_path), 3, corpus_docs=200, n_files=3, per_file=12)
    truth = json.loads((tmp_path / "truth.json").read_text())
    files = sorted((tmp_path / "arrivals").iterdir())
    assert rows["arrival_files"] == 3 and len(files) == 3
    first, second, redelivered = (pq.read_table(f).to_pydict() for f in files)
    assert redelivered == first
    ids = first["doc_id"] + second["doc_id"]
    assert set(map(str, ids)) == set(truth)
    novel = {int(k) for k, v in truth.items() if v is None}
    echoes = [v for v in truth.values() if v is not None and v >= 1_000_000]
    near = [v for v in truth.values() if v is not None and v < 1_000_000]
    assert novel and near and echoes
    assert set(echoes) <= novel  # echoes match earlier arrivals' novels


def test_judge_file_allows_lsh_misses_but_not_wrong_decisions():
    truth = {1: None, 2: 10, 3: 11, 4: 12, 5: 13, 6: 14}

    def dec(novel, match=None):
        return [{"is_novel": novel, "match_id_min": match}]

    good = {1: dec(True), 2: dec(False, 10), 3: dec(False, 11), 4: dec(False, 12),
            5: dec(False, 13), 6: dec(True)}  # one miss in five planted
    ids = list(truth)
    assert judge_file(ids, truth, good, 0.2) is None
    assert "missed" in judge_file(ids, truth, {**good, 5: dec(True)}, 0.2)
    assert "matched 10" in judge_file(ids, truth, {**good, 1: dec(False, 10)}, 0.2)
    assert "want 11" in judge_file(ids, truth, {**good, 3: dec(False, 99)}, 0.2)
    assert "2 decisions" in judge_file(ids, truth, {**good, 4: dec(False, 12) * 2}, 0.2)


def test_benchmark_json_names_the_metrics_the_runs_print():
    import os

    from perfbench.layers import UNITS
    from perfbench.workloads import WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == [
        "setup_s", "pass_s", "op_p50_s", "heap_retained_mb"
    ]
