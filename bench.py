#!/usr/bin/env python
"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology (mirrors the reference dashboard's discipline,
performance.dashboard.scala:26-28 — median of 4 iterations dropping 1
warmup): one untimed flagship warmup for JVM JIT, then each headline query
executed five times with the MIN reported (first run pays that query's own
codegen compilation; the min is the steady-state number a repeated
workload sees, and min-of-5 cuts the ±15% run-to-run scheduler noise a
min-of-3 still carries on this box). Consumption is the noop sink — full execution, no
driver-side transfer (the ExecutionMode.ForeachResults analog).

Cross-round comparability caveat (root cause of the r3 `w2_running_total`
"regression"): absolute numbers swing ±30% between rounds with ZERO code
changes — r4 runs on an otherwise-idle box measured flagship_star_agg at
1.24-1.25 s vs r3's 0.877 s and q1 at 1.64-1.72 s vs 1.253 s, with the
same plans and git-identical query code. The box (VM) is simply slower
some rounds. Per-query regressions are only meaningful relative to the
same round's other queries; w2's r3 uptick (+24%) matched the box-wide
drift, not a plan change.

As of round 5 that relative discipline is computed, not just prescribed:
the output carries a ``normalized`` block — every per-query time divided
by the MEDIAN per-query shift against the latest committed BENCH_r*.json
— so a future reader compares ``value_normalized`` across rounds and a
genuine plan regression shows up as a query whose normalized ratio
stands off the 1.0 line while box drift cancels out. (Measured in this
round's session: back-to-back runs of identical code printed raw totals
18.3 s then 11.1 s — cold page cache after a 20-minute pytest churn —
while the normalized totals told the true story, 9.92 s vs r4's 9.98 s.)

Round 6 adds the variance receipt: any query whose normalized ratio vs
the previous round shifts >20% is re-sampled three more times and its
raw sample list is emitted under ``variance`` — residual sub-second box
noise now ships with its own evidence instead of reading as a plan
regression (the r5 sim1/e3 false alarms).

Round 8 fixes the calibration itself (the r7 artifact's root cause): the
box-drift median was computed over ALL shared headline queries, so
queries indirectly accelerated by shared infrastructure (the r7
graph-edge memo sped g4 −18% raw, d2/c1 −29%/−20% raw with zero direct
code change) dragged the median to 0.871 and manufactured phantom
+13-16% "normalized regressions" on raw-flat queries (flagship, q1, q5,
e3 — two rounds running for e3). The median is now pinned to
``CALIBRATION``: the TPC-H-shaped scan/join/agg/window queries whose
plans share NO cross-query memoized state (no graph-edge memo, no LSH
checkpoint reuse) and that rebuild their inputs from the parquet scan
every iteration — the closest thing the headline set has to pure
box-drift thermometers. Every shared query's raw ratio is emitted under
``calibration.ratios`` so a dragged median is auditable instead of
silent, and the variance-receipt threshold drops 20% -> 10% so ANY
normalized shift a reader would flag ships with its own re-sampled
evidence. ``notes`` carries measurement-basis caveats that are true by
construction (the graph memo one below).

Round 9 splits the output so the artifact can never be truncated again
(BENCH_r08.json lost its raw ``queries`` block when the enriched payload
outgrew the driver's ~2 KB stdout-tail capture): stdout now ENDS with a
compact core line (metric/value/queries/median_shift, <1 KB — asserted
in tests/test_bench_artifact.py) and the full receipt (calibration
ratios, variance samples, notes) is written to a committed
``BENCH_DETAIL_r{N}_c{cores}.json`` side file the core line names (the
core count keeps a same-round low-core scaling run from overwriting the
full-core receipt).

Round 10 de-monocultures the calibration basis (the r9 verdict's
finding: all 9 thermometers were join/agg/scan shapes, and the r9 raw
ratios split bimodally — graph 0.74-0.78 vs window/LSH 1.14-1.33 — so
ONE scalar median under-corrects whatever drifts shape-dependently:
page cache, spill, sort buffers, JIT). The calibration now carries
THREE shape classes (``CAL_SHAPES``): the TPC-H-shaped scan/join/agg
set, a window-sort class (w2, e3, plus a GENERATED w2-shaped
thermometer with no parquet input at all), and an explode+hash-shuffle
class (d8 plus a generated d8-shaped thermometer). Every headline query
normalizes by ITS shape-class median (``SHAPE_OF``); a class with fewer
than ``MIN_SHAPE_RATIOS`` shared ratios against the previous round
falls back to the global calibration median (flagged per shape in the
output). The generated thermometers gain history this round, so from
r11 every class has >= 2 memo-free, input-independent ratios.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from spark_sql_perf_spark import memo  # noqa: E402
from spark_sql_perf_spark.operators import QUERIES  # noqa: E402
from spark_sql_perf_spark.session import build_session  # noqa: E402

# Representative spread: scan-agg, star joins, fact-fact join, rollup,
# windows, graph multi-join, dedup, ANN, sessionization.
HEADLINE = [
    "flagship_star_agg",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "j2_compound_key",
    "j4_chain_join",
    "a8_rollup_grouping",
    "w2_running_total",
    "g3_triangle_count",
    "d2_dedup_minhash_lsh",
    "sim1_cosine_topk",
    "e3_session_window",
    # r6: the two heaviest r4/r5 additions, previously invisible to
    # round-over-round tracking (VERDICT r5 task #4)
    "g4_square_count",
    "c1_decontaminate_4gram",
    # r7: the adaptive-LSH kNN-graph self-join and the gaps-and-islands
    # SCD2 window chain — the round's two new heavy shapes
    "sim6_knn_graph",
    "cdc1_scd2_compress",
    # r9: the duplicated-span extraction — shingle explode + digest
    # winner agg + doc-partitioned islands, the round's new heavy shape
    "d8_duplicated_spans",
    # r11: the two new heavy shapes — the composed Gopher cut (in-row
    # fold below one md5 dedup window) and the incremental batch-vs-
    # index probe (broadcast probe joins over the in-plan index build).
    # No prior-round baseline this round; they gain ratios from r12.
    "c16_repetition_cut_split",
    "d10_incremental_lsh_probe",
]

# Box-drift thermometers, grouped by PLAN SHAPE (r10): every entry reads
# its input fresh each iteration (parquet scan, or spark.range for the
# generated thermo_* pair) and touches NO cross-query memoized state
# (similarity's dim memo). Only these feed normalization medians;
# everything else is normalized BY them but cannot drag them. Excluded
# and why: g3/g4 (graph operators that rounds routinely rework; their
# min-of-N measures the per-call edge derivation since r15),
# d2/sim1/sim6/c1 (shared pipeline infrastructure that rounds
# routinely touch indirectly), cdc1 (window-shaped SCD2 chain —
# w2/e3/thermo cover the shape without it).
CAL_SHAPES = {
    "scan_join_agg": [
        "flagship_star_agg",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "j2_compound_key",
        "j4_chain_join",
        "a8_rollup_grouping",
    ],
    "window_sort": [
        "w2_running_total",
        "e3_session_window",
        "thermo_window_sort",
        "thermo_window_sort2",
    ],
    "explode_shuffle": [
        "d8_duplicated_spans",
        "thermo_explode_hash",
        "thermo_explode_hash2",
    ],
}
CALIBRATION = [q for qs in CAL_SHAPES.values() for q in qs]


def _current_impl_changed() -> set[str]:
    """Headline/calibration queries whose implementation changed THIS
    round (__spark_entry__._IMPL_CHANGED entries == the round being
    measured): excluded from shape medians (r10 ADVICE) — a calibration
    query whose executed plan changed in-round measures the plan
    change, not box drift, and with 2-3 ratios per class it would shift
    the median by half. They stay in ``ratios`` for audit."""
    try:
        import __spark_entry__ as e

        rnd = _this_round()
        return {q for q, r in e._IMPL_CHANGED.items() if r == rnd}
    except Exception:
        return set()

# Which shape-class median normalizes each headline query. Assignments
# follow the dominant exchange/operator in the executed plan: graph
# multi-joins and the broadcast-probe sim1 drift with the join/agg/scan
# class; the SCD2 window chain with window-sort; the LSH/shingle
# explode pipelines with explode+hash-shuffle.
SHAPE_OF = {
    "flagship_star_agg": "scan_join_agg",
    "q1_pricing_summary": "scan_join_agg",
    "q3_shipping_priority": "scan_join_agg",
    "q5_local_supplier_volume": "scan_join_agg",
    "j2_compound_key": "scan_join_agg",
    "j4_chain_join": "scan_join_agg",
    "a8_rollup_grouping": "scan_join_agg",
    "g3_triangle_count": "scan_join_agg",
    "g4_square_count": "scan_join_agg",
    "sim1_cosine_topk": "scan_join_agg",
    "w2_running_total": "window_sort",
    "e3_session_window": "window_sort",
    "cdc1_scd2_compress": "window_sort",
    "d2_dedup_minhash_lsh": "explode_shuffle",
    "c1_decontaminate_4gram": "explode_shuffle",
    "sim6_knn_graph": "explode_shuffle",
    "d8_duplicated_spans": "explode_shuffle",
    # r11 headline additions: c16's dominant exchange is the md5 dedup
    # window (sort-heavy, no explode anywhere in-plan); d10 shuffles
    # its shingle-explode-derived relations through distinct/groupBy
    "c16_repetition_cut_split": "window_sort",
    "d10_incremental_lsh_probe": "explode_shuffle",
}

# A shape median needs at least this many shared ratios vs the previous
# round; below it the shape falls back to the global calibration median
# (flagged in calibration.shape_basis).
MIN_SHAPE_RATIOS = 2


def thermo_window_sort(spark, sf_dir):
    """Generated window-sort thermometer: w2's executed shape (one hash
    exchange + per-group sort + running row frame) over spark.range —
    no parquet input, no memo, deterministic, so its round-over-round
    ratio is pure box drift for the sort/spill-sensitive plan class."""
    df = spark.range(1_000_000).select(
        (F.col("id") % 977).alias("grp"),
        # pmod bounds the values so the running sum cannot overflow a
        # long under ANSI mode
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("val"),
    )
    w = Window.partitionBy("grp").orderBy("val")
    return df.select(
        "grp",
        F.sum("val").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
        F.row_number().over(w).alias("rn"),
    )


def thermo_window_sort2(spark, sf_dir):
    """Second generated window-sort instrument (r12, VERDICT r11 task 4:
    the window_sort class median leaned on one noisy instrument — 41%
    sample spread at min-of-8). Same plan class as thermo_window_sort —
    one hash exchange + per-group sort + window functions — but the
    opposite partition profile: 61 large groups (~25k rows each, deep
    per-group sorts that actually spill-test the sorter) instead of 977
    small ones, and a lag/dense_rank/sliding-frame payload instead of a
    running sum, so the pair spans the class's sort-depth range rather
    than sampling one point twice. Sized to ~1.5 s/sample under the
    bench session, where AQE's size-based coalesce collapses this
    shuffle to few tasks (deliberate: a deep near-serial sort is the
    pure sort-throughput point of the class; the original instrument
    and the real w2/e3 queries cover the parallel end)."""
    df = spark.range(400_000).select(
        (F.col("id") % 61).alias("grp"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("val"),
        F.pmod(F.xxhash64((F.col("id") * 31).cast("string")), F.lit(997)).alias(
            "val2"
        ),
    )
    w = Window.partitionBy("grp").orderBy("val", "val2")
    return df.select(
        "grp",
        (F.col("val") - F.lag("val", 1).over(w)).alias("gap"),
        F.dense_rank().over(w).alias("dr"),
        F.avg("val2").over(w.rowsBetween(-100, 0)).alias("slide_avg"),
    )


def thermo_explode_hash(spark, sf_dir):
    """Generated explode+hash-shuffle thermometer: d8's skeleton (narrow
    explode -> digest-partitioned min/max window -> id-partitioned lag
    window; exactly two full shuffles of a skinny generated relation) —
    the shape class the r9 ratios showed drifting opposite to the
    join/agg thermometers."""
    base = spark.range(30_000).select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(19))).alias("pos")
    )
    hashed = base.select(
        "id",
        "pos",
        F.xxhash64(
            ((F.col("id") + F.col("pos") * 131) % 300_000).cast("string")
        ).alias("h"),
    )
    by_h = Window.partitionBy("h")
    hits = hashed.select(
        "id",
        "pos",
        F.min("id").over(by_h).alias("lo"),
        F.max("id").over(by_h).alias("hi"),
    ).where(F.col("lo") != F.col("hi"))
    by_id = Window.partitionBy("id").orderBy("pos")
    return hits.select(
        "id", "pos", (F.col("pos") - F.lag("pos").over(by_id)).alias("gap")
    )


def thermo_explode_hash2(spark, sf_dir):
    """Second generated explode+hash-shuffle instrument (r11, r10
    ADVICE: a class median must never rest on one query): same plan
    class as thermo_explode_hash — narrow explode feeding a full hash
    shuffle — but a groupBy/agg consumer instead of windows and a
    different fan-out/cardinality mix, so the pair spans the class
    rather than measuring one code path twice."""
    base = spark.range(60_000).select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("pos")
    )
    hashed = base.select(
        "id",
        F.xxhash64(((F.col("id") * 7 + F.col("pos")) % 90_000).cast("string")).alias(
            "h"
        ),
    )
    return (
        hashed.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
        )
        .where(F.col("n") > 1)
        .groupBy((F.col("lo") % 97).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"), F.sum(F.col("hi") - F.col("lo")).alias("s"))
    )


THERMOMETERS = {
    "thermo_window_sort": thermo_window_sort,
    "thermo_window_sort2": thermo_window_sort2,
    "thermo_explode_hash": thermo_explode_hash,
    "thermo_explode_hash2": thermo_explode_hash2,
}

# Headline queries whose round-over-round story is under active watch:
# ALWAYS re-sampled (+3) and shipped with their raw sample lists, shift
# or no shift — r11: sim6 (the r10 builder-note 1.48s vs driver-run
# 2.155s discrepancy needs variance evidence either way) and g4 (its
# +12% r10 raw drift rode shared-direction box movement; samples make
# the next drift self-documenting). r13: d2 (two straight outlier
# rounds in opposite directions on untouched code — r11 −45%, r12
# +74% against its class; the r12 verdict's idle-box receipt read it
# at anchor, so raw samples must ship every round until it settles).
ALWAYS_SAMPLED = ["sim6_knn_graph", "g4_square_count", "d2_dedup_minhash_lsh"]

# Cross-class sanity gate (r13, r12 VERDICT task 1): the r12 artifact
# printed sim6 normalized 2.127 — the worst reading on record — in the
# same file whose notes declared sim6 resolved and steady, because the
# explode-class median (0.871) moved OPPOSITE the global calibration
# median (1.18): a 40% cross-class split in "box drift" divided sim6's
# raw by a number moving the other way. When a shape median diverges
# more than this fraction from the global median, the artifact flags
# the shape (shape_basis suffix "_divergent_vs_global") and emits BOTH
# normalizations for its queries (``queries_normalized_global``), so a
# cold reader sees the calibration disagreement instead of a phantom
# regression.
SHAPE_DIVERGENCE_GATE = 0.20

# Unrecorded warm-in executions before a query's first timed sample —
# the r12 resolution of the three-round sim6 driver-vs-builder gap
# (VERDICT r9-r11). Mechanism, named with receipts (SCALE_PROBE.md r12
# section): sim6's generated code keeps the C2 JIT busy for ~12
# executions (13.7 s of compilation activity on execution 1, decaying
# to ~1 s/execution by #12, measured via CompilationMXBean), so its
# per-execution time declines from ~2.3-4.6 s to a ~1.5-1.6 s steady
# state over 8-12 executions. min-of-8 samples that transient — the
# driver's fresh-process runs read 1.88-2.16 s while long-lived builder
# sessions read the 1.45-1.71 s plateau, on identical code and plans
# (GC <25 ms/sample and storage residency 2.4 MB were measured and
# exonerated; the penalty reproduces with any ~50-execution prefix and
# without the memoized graph relations). The steady state is the
# plan-quality signal this artifact exists to track, so sim6 warms in
# explicitly.
# COMPARABILITY: r12+ sim6 numbers are steady-state and comparable to
# r9-r11 BUILDER readings, not to the r9-r11 driver-run transients.
WARM_IN = {"sim6_knn_graph": 8}

# Measurement-basis facts a cross-round reader needs (shipped in the
# output so the caveat lives WITH the numbers, not in a round's memo):
NOTES = [
    "g1-g6 (incl. headline g3/g4): the per-corpus persisted edge"
    " relation they shared from r7 to r14 is REMOVED in r15 — every call"
    " derives the edge list from the orders scan, so min-of-N times"
    " measure the per-call derivation, not a warm cache. The one-time"
    " raw uptick vs r7-r14 (g4 0.56 -> 0.85 s in a same-JVM probe) is"
    " the memo's removal, not a plan regression; comparisons against"
    " pre-r7 rounds are like-for-like again.",
    "normalization is PER SHAPE CLASS since r10: each headline query"
    " divides by the median ratio of its SHAPE_OF class"
    " (calibration.shape_of names the class per query;"
    " calibration.shape_medians / shape_basis carry the medians and"
    " whether a class fell back to the global calibration median)."
    " median_shift in the core line remains the global calibration"
    " median for cross-round continuity; per-query ratios for ALL"
    " shared queries are under calibration.ratios.",
    "thermo_window_sort / thermo_window_sort2 / thermo_explode_hash /"
    " thermo_explode_hash2 are GENERATED calibration instruments"
    " (spark.range input, no parquet, no memo) reported under 'thermo',"
    " outside 'queries' and 'value'. r11: min-of-8 (headline protocol —"
    " the r10 min-of-5 pair carried 25-40% sample spread),"
    " thermo_explode_hash2 added so the explode class median never"
    " rests on one instrument, and calibration queries flagged"
    " _IMPL_CHANGED for the measured round are excluded from shape"
    " medians (their ratio measures the plan change, not box drift)."
    " r12: thermo_window_sort2 added (VERDICT r11 task 4) so the"
    " window_sort class gets the same >=2-generated-instrument footing"
    " (61 large groups / lag+dense_rank+sliding-frame payload vs the"
    " original's 977 small groups / running sum); it gains ratio"
    " history from r13.",
    "sim6_knn_graph: RESOLVED r12. The three-round driver(1.88-2.16s)"
    " vs builder(1.45-1.71s) gap was the sampling protocol meeting an"
    " unusually deep JIT warm-in, not box state and not a plan change:"
    " sim6's generated code keeps the C2 compiler busy for ~12"
    " executions (13.7s of compilation activity on execution 1 decaying"
    " to ~1s by #12, CompilationMXBean receipt; GC <25ms/sample and"
    " storage residency 2.4MB measured and exonerated), so per-"
    " execution time falls from 2.3-4.6s to a 1.47-1.85s steady state"
    " over 8-12 executions and min-of-8 sampled the transient."
    " Reproduced in the driver's own environment (fresh `python"
    " bench.py` subprocess) and bisected across nine controlled runs —"
    " full table in SCALE_PROBE.md r12. sim6 now rides WARM_IN=8"
    " unrecorded executions before its timed samples; r12+ readings are"
    " steady-state (comparable to prior BUILDER numbers, not to the"
    " r9-r11 driver-run transients). It stays ALWAYS_SAMPLED.",
    "cross-class divergence gate since r13 (the r12 artifact printed"
    " sim6 normalized 2.127 — worst on record — while its own notes"
    " declared sim6 steady, because the explode-class median 0.871"
    " moved opposite the global 1.18): a shape median >20% off the"
    " global calibration median marks its shape_basis"
    " '_divergent_vs_global' and its queries' global-median"
    " normalizations ship alongside under queries_normalized_global —"
    " read BOTH before calling a regression in a flagged class."
    " d2_dedup_minhash_lsh joined ALWAYS_SAMPLED the same round (r11"
    " −45% / r12 +74% against its class on untouched code; idle-box"
    " receipts put it at anchor both times).",
    "r13 OPTIMIZATION BASIS CAVEAT: round 13 sped up the measured path"
    " of EVERY query (catalog.table() memoizes parquet relation"
    " resolution per session, ~0.1s per table reference per"
    " construction), and additionally restructured q1/q3/q5/flagship"
    " (integer-cents aggregates), d10/d11 (materialized index"
    " relations), and g6. The r13-vs-r12 calibration medians"
    " therefore measure genuine optimization, not box drift — expect"
    " shape medians well under 1.0 and read RAW deltas for r13;"
    " normalized values re-anchor from r14. Queries with restructured"
    " plans are excluded from shape medians via _IMPL_CHANGED as"
    " always; the session-wide resolution memo necessarily remains in"
    " the remaining calibration ratios (it IS part of each query's"
    " measured construction cost).",
    "r14: d2_dedup_minhash_lsh's cross-call hashed/sigs memo (the r13"
    " VERDICT's gaming-adjacent finding) is REMOVED — every timed sample"
    " now recomputes the shingle->minhash pipeline from parquet and"
    " materializes hashed/sigs per invocation (localCheckpoint, the"
    " d10/d11 pattern). r14+ d2 readings are honest per-invocation"
    " numbers; the one-time raw uptick vs r12/r13 (whose min-of-N served"
    " later samples from executor memory) is the memo's removal, not a"
    " plan regression.",
    "scaling probe basis (r14): the session conf now provably tracks"
    " $SPARK_GRAFT_CPUS — build_session sets master=local[$CPUS] and"
    " shuffle.partitions=$CPUS, and tune_session's floor derives from"
    " sc.defaultParallelism instead of a literal 32 (the r13 pin that"
    " made the 8-core probe plan 32-way shuffles). The core line's"
    " 'conf' block carries the effective master and shuffle partitions."
    " NOTE the achievable 8-vs-32-core ratio at sf0.1 stays near 1"
    " regardless: every sf0.1 table is a single parquet file with ONE"
    " row group, so scan stages are 1 task at any core count and the"
    " residue is driver-bound constants.",
    "r15 storage basis: every execution (timed sample, WARM_IN and the"
    " flagship warmup) is followed by memo.release_all(), OUTSIDE the"
    " timer, so the storage a query's materialized intermediates hold"
    " is 0 bytes after each sample and no sample or later query reads"
    " another's checkpoint. The timed region (build + noop consume) is"
    " unchanged; before r15 the checkpoints of d2, d10 and the other"
    " materializing queries stayed in executor storage until exit.",
    "q1_pricing_summary is the most scan-bandwidth-bound headline query"
    " and its min-of-N wobbles hardest when the page cache is cold"
    " relative to the join-shaped calibration peers (r9: +17% normalized"
    " on a 26% internal sample spread, with the executed plan"
    " byte-identical to the r8 PLANS.md snapshot and zero source"
    " changes) — read its normalized shifts against its variance"
    " samples before calling a regression.",
]

# Variance-receipt threshold: any query whose normalized ratio vs the
# previous round shifts more than this is re-sampled (+3) and ships its
# raw sample list. 0.10 since r8 — the bar a reader would flag anyway.
SHIFT_RECEIPT = 0.10


def consume(df) -> None:
    """Execute fully without collecting (noop datasource sink)."""
    df.write.format("noop").mode("overwrite").save()


def sample_query(spark, sf_dir: str, fn, n: int) -> list[float]:
    """n timed executions of one query builder: build + consume per
    sample. The storage the query's materialized intermediates hold is
    released after each sample, outside the timer, so no sample reads
    another's checkpoint and nothing stays held between queries."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        consume(fn(spark, sf_dir))
        out.append(round(time.perf_counter() - t0, 3))
        memo.release_all()
    return out


def _this_round() -> int:
    """Round number for the DETAIL side file: latest committed
    BENCH_r*.json + 1 (the driver names the current round's artifact the
    same way) — computed from the file LIST, not from the normalization
    baseline, which deliberately skips past truncated artifacts. Falls
    back to 0 (-> BENCH_DETAIL_r00_c*.json, clearly out-of-band) when no
    history exists."""
    import re

    rounds = [
        int(m.group(1))
        for p in _committed_bench_files()
        if (m := re.search(r"_r(\d+)", os.path.basename(p)))
    ]
    return (max(rounds) + 1) if rounds else 0


def detail_name(round_no: int, cores: int) -> str:
    """DETAIL side-file name: the zero-padded round, as in the
    BENCH_r{NN}.json artifacts, plus the Spark core count, so the
    8-core and full-core runs of one round each keep their receipt."""
    return f"BENCH_DETAIL_r{round_no:02d}_c{cores}.json"


def _committed_bench_files() -> list[str]:
    """Committed BENCH_r*.json paths, round order. Committed files only:
    the driver writes the CURRENT round's BENCH_r{N}.json into the repo
    before committing it, so a bare glob would let a same-round re-run
    normalize against its own round (median ~1.0) and silently drop the
    cross-round baseline. git ls-files sees only prior rounds until the
    round-end commit lands."""
    import glob

    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        import subprocess

        names = subprocess.run(
            ["git", "-C", repo, "ls-files", "BENCH_r*.json"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.split()
        return sorted(os.path.join(repo, n) for n in names)
    except Exception:
        return sorted(glob.glob(os.path.join(repo, "BENCH_r*.json")))


def load_previous_times() -> tuple[str, dict[str, float]] | None:
    """(basename, per-query times) of the newest committed BENCH_r*.json
    that actually carries per-query times (see the skip note below)."""
    prev_files = _committed_bench_files()
    # Newest-first, skipping past artifacts that yield no per-query
    # times (BENCH_r08.json is committed but truncated — its tail begins
    # mid-JSON — and without the skip the whole normalization chain
    # would silently die the round after any such capture accident).
    for path in reversed(prev_files):
        try:
            with open(path) as f:
                doc = json.load(f)
            if "queries" not in doc and isinstance(doc.get("parsed"), dict):
                # driver-recorded shape with the core line pre-parsed
                doc = doc["parsed"]
            if "queries" not in doc and "tail" in doc:
                # driver-recorded shape: our JSON line is embedded in the
                # captured stdout tail
                for line in doc["tail"].splitlines():
                    if line.startswith("{") and '"queries"' in line:
                        doc = json.loads(line)
                        break
            # thermo times (r10+) ride along so the generated shape
            # thermometers get round-over-round ratios like everything
            # else; absent in pre-r10 artifacts
            prev = dict(doc.get("queries") or {}, **(doc.get("thermo") or {}))
        except Exception:
            continue
        if prev:
            return os.path.basename(path), prev
    return None


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def normalize_vs_previous(
    times: dict[str, float],
    previous: tuple[str, dict[str, float]] | None,
    thermo: dict[str, float] | None = None,
) -> dict | None:
    """Box-drift normalization: divide this run by the median per-query
    shift against the latest committed BENCH_r*.json. The ±30% cross-
    round VM drift (docstring above) shows up as a near-uniform shift
    across queries, so the median ratio estimates the box factor and
    ``value_normalized`` is the plan-quality signal: a single query
    regressing stands out against the normalized baseline instead of
    being buried in (or mistaken for) box noise.

    Since r10 the correction is PER SHAPE CLASS: each headline query
    divides by the median ratio of its ``SHAPE_OF`` class's calibration
    queries (``CAL_SHAPES``; the generated ``thermo_*`` pair feeds the
    window-sort and explode classes), because the r9 ratios proved the
    drift is shape-dependent — one scalar median under-corrected the
    window/LSH class while over-correcting graph. A class with fewer
    than MIN_SHAPE_RATIOS shared ratios falls back to the global
    calibration median; ``median_shift`` stays that global median for
    cross-round continuity of the core line. ``ratios`` carries every
    shared query's raw ratio so the calibration itself is auditable;
    ``value_normalized`` is the sum of per-query normalized times (==
    total/median when every shape shares the global median, the pre-r10
    definition).
    """
    if previous is None:
        return None
    vs, prev = previous
    shared = dict(times, **(thermo or {}))
    ratios = {
        q: shared[q] / prev[q] for q in shared if q in prev and prev[q] > 0
    }
    if not ratios:
        return None
    changed = _current_impl_changed()
    cal = [r for q, r in ratios.items() if q in CALIBRATION and q not in changed]
    basis = "calibration" if len(cal) >= 5 else "all_shared"
    med = _median(cal if basis == "calibration" else list(ratios.values()))
    shape_medians: dict[str, float] = {}
    shape_basis: dict[str, str] = {}
    divergent_shapes: set[str] = set()
    for shape, qs in CAL_SHAPES.items():
        rs = [ratios[q] for q in qs if q in ratios and q not in changed]
        if len(rs) >= MIN_SHAPE_RATIOS:
            shape_medians[shape] = round(_median(rs), 3)
            shape_basis[shape] = f"{len(rs)}_shared"
            if med > 0 and abs(shape_medians[shape] / med - 1.0) > SHAPE_DIVERGENCE_GATE:
                # see SHAPE_DIVERGENCE_GATE: the class thermometers and
                # the global calibration disagree about the box — ship
                # both normalizations rather than silently trusting one
                shape_basis[shape] += "_divergent_vs_global"
                divergent_shapes.add(shape)
        else:
            shape_medians[shape] = round(med, 3)
            shape_basis[shape] = "fallback_global"

    def q_med(q: str) -> float:
        return shape_medians.get(SHAPE_OF.get(q, ""), med)

    out = {
        "vs": vs,
        "median_shift": round(med, 3),
        "value_normalized": round(
            sum(t / q_med(q) for q, t in times.items()), 3
        ),
        "queries_normalized": {
            q: round(t / q_med(q), 3) for q, t in times.items()
        },
        "calibration": {
            "basis": basis,
            "shape_medians": shape_medians,
            "shape_basis": shape_basis,
            "shape_of": SHAPE_OF,
            "queries": [q for q in CALIBRATION if q in ratios],
            "ratios": {q: round(r, 3) for q, r in sorted(ratios.items())},
        },
    }
    if divergent_shapes:
        out["queries_normalized_global"] = {
            q: round(t / med, 3)
            for q, t in times.items()
            if SHAPE_OF.get(q, "") in divergent_shapes
        }
    return out


def main() -> None:
    t_start = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = build_session(app_name="spark-sql-perf-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup (JIT/codegen), untimed
    sample_query(spark, sf_dir, QUERIES["flagship_star_agg"], 1)

    def sample(name: str, n: int) -> list[float]:
        return sample_query(spark, sf_dir, QUERIES[name], n)

    def first_pass(name: str) -> list[float]:
        # WARM_IN queries run unrecorded executions first (JIT warm-in;
        # see the WARM_IN note) — once per bench process, so the later
        # variance re-samples are already warm by construction
        sample(name, WARM_IN.get(name, 0))
        return sample(name, 5)

    samples: dict[str, list[float]] = {name: first_pass(name) for name in HEADLINE}
    times = {name: min(s) for name, s in samples.items()}
    # generated shape thermometers: min-of-8 since r11 (the r10 pair ran
    # min-of-5 with 25-40% sample spread, and the class medians they
    # seed inherit that noise — headline-protocol sampling for the
    # instruments the normalization rests on). Reported separately from
    # the headline set (they are calibration instruments, not operators
    # — keeping them out of ``queries`` and ``value`` preserves
    # cross-round comparability of both).
    thermo_samples = {
        n: sample_query(spark, sf_dir, fn, 8) for n, fn in THERMOMETERS.items()
    }
    thermo = {n: round(min(s), 3) for n, s in thermo_samples.items()}

    # Variance receipt (r5 lesson: sim1 +35% / e3 +12% normalized on
    # UNTOUCHED sub-second queries — box noise, but nothing in the
    # artifact proved it). Any query whose box-drift-removed ratio vs the
    # previous round stands >SHIFT_RECEIPT off the 1.0 line gets three
    # MORE samples; the min over all eight plus the raw sample list land
    # in the output so a shift either self-corrects or ships with the
    # evidence that it is real.
    previous = load_previous_times()
    normalized = normalize_vs_previous(times, previous, thermo)
    variance: dict[str, dict] = {}
    if normalized is not None:
        _, prev = previous
        shifted = [
            q for q, t_norm in normalized["queries_normalized"].items()
            if q in prev and prev[q] > 0
            and abs(t_norm / prev[q] - 1.0) > SHIFT_RECEIPT
        ]
        # watch-listed queries ship samples unconditionally (r11): a
        # flat reading without evidence is exactly what made the r10
        # sim6 note unfalsifiable
        for q in ALWAYS_SAMPLED:
            if q in times and q not in shifted:
                shifted.append(q)
        for q in shifted:
            samples[q].extend(sample(q, 3))
            times[q] = min(samples[q])
            variance[q] = {"samples": samples[q]}
        if variance:
            # recompute against the refreshed minima
            normalized = normalize_vs_previous(times, previous, thermo)
    times = {q: round(t, 3) for q, t in times.items()}

    total = round(sum(times.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "thermo": thermo,
        "sf": sf,
        "notes": NOTES,
    }
    if normalized is not None:
        payload["normalized"] = normalized
        if variance:
            for q, v in variance.items():
                v["normalized_after"] = normalized["queries_normalized"].get(q)
            payload["variance"] = variance
        payload["thermo_samples"] = thermo_samples
    # Bench wall-clock self-report: 19 headline queries x min-of-5 + 4
    # generated thermometers x min-of-8 + WARM_IN unrecorded executions
    # (8 for sim6, ~16s) plus receipt re-samples (the
    # ALWAYS_SAMPLED trio re-samples every round by design). The
    # re-sample tier otherwise only triggers on shifted queries, so the
    # bound is ~(19*5 + 4*8 + 8 + (3+shifted)*3) executions; if every query
    # shifted (a box-wide event the calibration medians would absorb
    # first), the run grows ~60% — acceptable, and now visible.
    payload["bench_runtime_sec"] = round(time.perf_counter() - t_start, 1)

    # Capture-proofing (r8 lesson: the enriched payload outgrew the
    # driver's ~2 KB stdout-tail window, so BENCH_r08.json's tail begins
    # MID-JSON and the raw per-query seconds were lost from the committed
    # artifact). Split the output: the FULL receipt (calibration ratios,
    # variance samples, notes) goes to a committed side file, and stdout
    # ends with a compact core line — metric/value/queries/median_shift,
    # well under 1 KB — so the tail capture always holds a complete,
    # parseable JSON line with the raw numbers.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        detail_name(_this_round(), spark.sparkContext.defaultParallelism),
    )
    with open(detail_path, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    core = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": payload["queries"],
        "thermo": payload["thermo"],
        "sf": payload["sf"],
        "detail": os.path.basename(detail_path),
        # Effective session basis for the scaling probe (r14, VERDICT
        # item 2): proves the conf tracked $SPARK_GRAFT_CPUS so a
        # near-1 low-core ratio reads as the single-row-group input
        # bound it is, not as the env being ignored.
        "conf": {
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
        },
    }
    if normalized is not None:
        core["median_shift"] = normalized["median_shift"]
        core["value_normalized"] = normalized["value_normalized"]
    print(json.dumps(core))
    spark.stop()


if __name__ == "__main__":
    main()
