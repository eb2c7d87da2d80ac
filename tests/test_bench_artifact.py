"""Capture-proofing for the per-round bench artifact (r9, after
BENCH_r08.json lost its raw ``queries`` block to the driver's ~2 KB
stdout-tail window): the compact core line bench.py prints LAST must
stay comfortably inside that window for the full headline set, and the
round inference for the DETAIL side file must track the committed
history. Pure artifact-shape checks — no Spark session."""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

# The driver's stdout-tail capture observed on BENCH_r08.json (~2 KB);
# the core line must fit with slack for a trailing newline and any
# stray log line the tail also swallows.
TAIL_WINDOW = 2048
CORE_BUDGET = 1400


def test_core_line_fits_tail_window():
    # worst-case widths: every headline query at a 4-digit-seconds time
    core = {
        "metric": "headline_queries_total",
        "value": 99999.999,
        "unit": "sec",
        "queries": {q: 9999.999 for q in bench.HEADLINE},
        "thermo": {q: 9999.999 for q in bench.THERMOMETERS},
        "sf": 0.1,
        "detail": bench.detail_name(99, 128),
        "median_shift": 1.094,
        "value_normalized": 99999.999,
    }
    line = json.dumps(core)
    assert len(line) <= CORE_BUDGET < TAIL_WINDOW, (
        f"core line is {len(line)} bytes — trim HEADLINE or the core keys"
        " before it outgrows the driver's tail capture again"
    )


def test_detail_name_carries_round_and_core_count():
    """A same-round run at another core count writes its own receipt."""
    assert bench.detail_name(15, 8) == "BENCH_DETAIL_r15_c8.json"
    assert bench.detail_name(3, 32) == "BENCH_DETAIL_r03_c32.json"


def test_detail_round_is_latest_committed_plus_one():
    files = bench._committed_bench_files()
    assert files, "committed BENCH_r*.json history expected"
    latest = max(
        int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)) for p in files
    )
    assert bench._this_round() == latest + 1


def test_previous_times_skip_truncated_artifacts():
    """The normalization baseline must come out of the committed history
    as raw per-query seconds even when the NEWEST artifact is truncated
    (BENCH_r08.json's tail begins mid-JSON — the r8 capture accident):
    the loader walks newest-first to the first file that parses."""
    prev = bench.load_previous_times()
    assert prev is not None, "no committed artifact yielded per-query times"
    name, times = prev
    assert times, f"no per-query times recovered from {name}"
    assert all(isinstance(v, (int, float)) and v > 0 for v in times.values())
    # most headline queries should overlap the recovered baseline
    assert len(set(times) & set(bench.HEADLINE)) >= 10


def test_divergent_shape_median_is_flagged_with_both_normalizations(
    monkeypatch,
):
    """r12 VERDICT task 1: when a shape median moves >20% off the global
    calibration median (the r12 sim6/explode-class contradiction), the
    artifact must flag the shape and ship the global-median
    normalization for its queries alongside the class one — a cold
    reader sees the calibration disagreement, not a phantom
    regression."""
    monkeypatch.setattr(bench, "_current_impl_changed", lambda: set())
    shared = {
        q: 1.0
        for q in bench.CAL_SHAPES["scan_join_agg"]
        + ["w2_running_total", "e3_session_window", "thermo_window_sort"]
    }
    # explode class at 0.7 vs global 1.0 — a 30% split, over the gate
    prev_times = dict(shared, d8_duplicated_spans=1.0, thermo_explode_hash=1.0)
    times = {q: v for q, v in shared.items() if q != "thermo_window_sort"}
    times.update(d8_duplicated_spans=0.7, sim6_knn_graph=1.4)
    thermo = {"thermo_explode_hash": 0.7, "thermo_window_sort": 1.0}

    n = bench.normalize_vs_previous(times, ("BENCH_r99.json", prev_times), thermo)
    assert n["calibration"]["shape_basis"]["explode_shuffle"] == (
        "2_shared_divergent_vs_global"
    )
    assert n["calibration"]["shape_basis"]["scan_join_agg"] == "7_shared"
    # sim6 normalizes by its class median AND ships the global twin
    assert n["queries_normalized"]["sim6_knn_graph"] == 2.0  # 1.4 / 0.7
    both = n["queries_normalized_global"]
    assert set(both) == {"d8_duplicated_spans", "sim6_knn_graph"}
    assert both["sim6_knn_graph"] == round(1.4 / 1.0, 3)

    # within the gate: no flag, no global twin block
    times2 = dict(times, d8_duplicated_spans=1.1, sim6_knn_graph=1.4)
    thermo2 = dict(thermo, thermo_explode_hash=1.1)
    n2 = bench.normalize_vs_previous(
        times2, ("BENCH_r99.json", prev_times), thermo2
    )
    assert n2["calibration"]["shape_basis"]["explode_shuffle"] == "2_shared"
    assert "queries_normalized_global" not in n2


def test_shape_medians_exclude_current_round_impl_changed(monkeypatch):
    """r10 ADVICE: a calibration query flagged _IMPL_CHANGED for the
    measured round must not feed its shape median — its ratio measures
    the plan change, not box drift. With d8 excluded and only one other
    explode ratio shared, the class falls back to the global median
    instead of resting on d8's (here deliberately absurd) 10x ratio."""
    shared = {
        q: 1.0
        for q in bench.CAL_SHAPES["scan_join_agg"]
        + ["w2_running_total", "e3_session_window", "thermo_window_sort"]
    }
    prev_times = dict(shared, d8_duplicated_spans=1.0, thermo_explode_hash=1.0)
    times = dict(shared, d8_duplicated_spans=10.0)
    thermo = {"thermo_explode_hash": 1.0}

    monkeypatch.setattr(bench, "_current_impl_changed", lambda: set())
    n = bench.normalize_vs_previous(times, ("BENCH_r99.json", prev_times), thermo)
    # not excluded: the 2-element explode median is dragged to 5.5 —
    # and (r13) a median that far off the global is exactly what the
    # divergence gate exists to mark
    assert n["calibration"]["shape_medians"]["explode_shuffle"] == 5.5
    assert n["calibration"]["shape_basis"]["explode_shuffle"] == (
        "2_shared_divergent_vs_global"
    )

    monkeypatch.setattr(
        bench, "_current_impl_changed", lambda: {"d8_duplicated_spans"}
    )
    n = bench.normalize_vs_previous(times, ("BENCH_r99.json", prev_times), thermo)
    # excluded: one ratio left -> fallback to the (undragged) global
    assert n["calibration"]["shape_basis"]["explode_shuffle"] == "fallback_global"
    assert n["calibration"]["shape_medians"]["explode_shuffle"] == 1.0
    # the excluded ratio stays auditable
    assert n["calibration"]["ratios"]["d8_duplicated_spans"] == 10.0
