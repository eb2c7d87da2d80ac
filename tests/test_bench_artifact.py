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
    # worst-case widths: every headline query at a 4-digit-seconds time,
    # a 3-digit round and a 4-digit core count
    core = bench.core_line(
        {q: 9999.999 for q in bench.HEADLINE},
        0.001,
        bench.detail_name(999, 1024),
        {
            "master": "local[1024]",
            "shuffle_partitions": "1024",
            "default_parallelism": 1024,
        },
    )
    assert list(core) == [
        "metric", "value", "unit", "queries", "sf", "detail", "conf"
    ]
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
