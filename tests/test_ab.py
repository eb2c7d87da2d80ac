"""tools/ab.py without a JVM: the pair verdicts and summary, the seed
order, the plan normalizer and every subcommand's ``--help``."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import ab  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "op_p50_s", "better": "lower", "bound": 0.25},
    {"name": "ingest_per_s", "better": "higher", "bound": 0.25},
]}


def _run(failed: int = 0, **metrics: float) -> dict:
    return {
        "failed": failed,
        "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
        "provenance": {"master": "local[4]", "nproc": 4, "shuffle_partitions": "4",
                       "git_commit": None, "source_sha256": "abc", "inputs_cached": True},
    }


def test_clear_win_is_better():
    pairs = [(9.0 + 0.01 * i, 7.0 + 0.01 * i) for i in range(10)]
    assert ab.verdict(pairs, 0.25) == (10, "better")
    # the same numbers read as a throughput lose every pair
    assert ab.verdict(pairs, 0.25, lower=False)[0] == 0


def test_a_gain_with_more_failed_ops_is_not_better():
    pairs = [(9.0 + 0.01 * i, 7.0 + 0.01 * i) for i in range(10)]
    assert ab.verdict(pairs, 0.25, more_failed=True) == (10, "within bound")
    base = [_run(0, op_p50_s=b, ingest_per_s=1.0) for b, _ in pairs]
    change = [_run(1, op_p50_s=c, ingest_per_s=1.0) for _, c in pairs]
    row = {ln.split()[0]: ln for ln in ab.report(SPEC, {"base": base, "change": change})}
    assert row["op_p50_s"].endswith("within bound") and row["failed"].endswith("change 10")


def test_run_that_generated_its_inputs_gives_no_result(tmp_path):
    # a stand-in perfbench/run.py that reports, like the real one, whether its inputs were cached
    (tmp_path / "perfbench").mkdir()
    (tmp_path / "perfbench" / "run.py").write_text(
        "import json, os, sys\n"
        "seed = int(sys.argv[sys.argv.index('--seed') + 1])\n"
        "os.makedirs('.perfbench/results', exist_ok=True)\n"
        "with open(f'.perfbench/results/w-s{seed}-t0.json', 'w') as fh:\n"
        "    json.dump({'provenance': {'inputs_cached': seed != 2}}, fh)\n"
        "print(json.dumps({'failed': 0, 'metrics': {}}))\n")
    assert ab.perfbench_run(str(tmp_path), "w", 1, 1.0)["provenance"]["inputs_cached"]
    assert ab.perfbench_run(str(tmp_path), "w", 2, 1.0) is None


def test_thirty_percent_slower_median_is_worse():
    pairs = [(10.0 + 0.01 * i, 13.0 + 0.01 * i) for i in range(10)]
    assert ab.verdict(pairs, 0.25) == (0, "worse")


def test_spread_wider_than_bound_is_unresolved():
    base = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
    change = [10.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0, 10.0]
    assert ab.verdict(list(zip(base, change)), 0.25)[1] == "unresolved"
    # the same spread with every change run below every base run is resolved
    disjoint = [(b + 20.0, c) for b, c in zip(base, change)]
    assert ab.verdict(disjoint, 0.25)[1] == "better"


def test_small_steady_difference_is_within_bound():
    pairs = [(10.0, 10.1), (10.2, 10.0), (10.1, 10.2)] * 3
    assert ab.verdict(pairs, 0.25)[1] == "within bound"


def test_ties_count_for_neither_and_failed_ops_sum_per_side():
    # (failed ops, op_p50_s, ingest_per_s) per seed; the base's fourth run printed no result
    base = [(1, 8.0, 5.0), (0, 8.0, 5.0), (2, 8.0, 5.0)]
    change = [(0, 8.0, 5.0), (3, 7.0, 5.0), (0, 8.0, 6.0), (0, 1.0, 9.0)]
    runs = {
        "base": [_run(f, op_p50_s=o, ingest_per_s=i) for f, o, i in base] + [None],
        "change": [_run(f, op_p50_s=o, ingest_per_s=i) for f, o, i in change],
    }
    lines = ab.report(SPEC, runs)
    assert lines[0] == "conf: master=local[4] cores=4 shuffle.partitions=4"
    row = {ln.split()[0]: ln for ln in lines}
    # one pair won per metric: ties and the pair whose base gave no result count for neither
    assert " 1/4 " in row["op_p50_s"] and " 1/4 " in row["ingest_per_s"]
    assert lines[-1] == "failed ops: base 3, change 3"


def test_small_heap_gain_prints_a_swapped_side_caveat():
    spec = {"end_to_end": [{"name": "heap_retained_mb", "better": "lower", "bound": 0.1}]}

    def caveats(base_mb: float, change_mb: float) -> list[str]:
        runs = {
            "base": [_run(heap_retained_mb=base_mb + 0.001 * i) for i in range(10)],
            "change": [_run(heap_retained_mb=change_mb + 0.001 * i) for i in range(10)],
        }
        lines = ab.report(spec, runs)
        row = next(ln for ln in lines if ln.startswith("heap_retained_mb"))
        assert row.endswith("better"), row  # the verdict itself is unchanged
        return [ln for ln in lines if "caveat" in ln]

    (line,) = caveats(82.0, 81.6)  # -0.5%: rerun with the sides swapped
    assert "swapped" in line
    assert caveats(82.0, 80.0) == []  # -2.4%: no caveat


def test_base_runs_first_on_odd_seeds():
    assert [ab.pair_order(s) for s in (1, 2, 3, 4)] == [
        ("base", "change"), ("change", "base"), ("base", "change"), ("change", "base"),
    ]


BHJ = """\
+- * BroadcastHashJoin Inner BuildRight (7)
   :- * Scan ExistingRDD (1)
(1) Scan ExistingRDD [codegen id : 1]
Output [2]: [id#{a}L, bh#{b}]
Arguments: [id#{a}L, bh#{b}], MapPartitionsRDD[{r}] at localCheckpoint at <unknown>:0
(6) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[1, string, true]),false), [plan_id={p}]
(7) BroadcastHashJoin [codegen id : 2]
Left keys [1]: [bh#{b}]
"""


def test_plan_normalizer_ignores_ids_only():
    one = BHJ.format(a=12, b=13, r=40, p=101)
    other = BHJ.format(a=912, b=7, r=3, p=55)
    assert one != other
    assert ab.normalize_plan(one) == ab.normalize_plan(other)
    smj = one.replace("BroadcastHashJoin", "SortMergeJoin")
    assert ab.normalize_plan(smj) != ab.normalize_plan(other)


def test_step_times_split_wall_into_busy_and_driver():
    # one micro-batch over [100, 110]: step a with two overlapping jobs,
    # step b with one, step c with none; a job outside every step; a
    # step span and a job of the next batch, which do not count
    steps = [("a", 101.0, 104.0), ("b", 105.0, 106.0), ("c", 107.0, 109.0),
             ("a", 111.0, 112.0)]
    jobs = [("a", 101.5, 103.0), ("a", 102.0, 103.5), ("b", 105.2, 105.7),
            ("engine batch", 109.2, 109.6), ("a", 111.1, 111.9)]
    rows = ab.step_times(steps, jobs, 100.0, 110.0)
    assert set(rows) == {"a", "b", "c", ab.OUTSIDE}
    want = {"a": (2, 3.0, 2.0, 1.0), "b": (1, 1.0, 0.5, 0.5), "c": (0, 2.0, 0.0, 2.0),
            ab.OUTSIDE: (1, 4.0, 0.4, 3.6)}
    for step, (n, wall, busy, driver) in want.items():
        assert rows[step][0] == n, step
        assert rows[step][1:] == pytest.approx((wall, busy, driver)), step
    # every second of the batch is in exactly one row
    assert sum(r[1] for r in rows.values()) == pytest.approx(10.0)


@pytest.mark.parametrize("sub", ["pairs", "plan", "time", "oracle", "costs", "stages", "steps"])
def test_subcommand_help_exits_zero(sub):
    proc = subprocess.run([sys.executable, os.path.join(TOOLS, "ab.py"), sub, "--help"],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    assert f"ab.py {sub}" in proc.stdout
