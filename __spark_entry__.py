"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``spark_sql_perf_spark``; this module is a thin
adapter over its operator registry (SURVEY.md §2 inventory).

Steady-state rotation invariant: the driver verifies ~50 rows per round
out of ~150 registered queries, so with ``_cost_order``'s
oldest-green-first rotation the achievable staleness floor is
ceil(n_queries / budget) ~ 3 rounds — every query's latest green row
must be from round >= (latest round - 3). tests/test_rotation.py asserts
this over the committed CORRECTNESS files, so a regression in
``_cost_order`` (e.g. a sort key that re-starves the backlog) fails
pytest instead of waiting for a judge to notice.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
_COSTS_FILE = os.path.join(_REPO_DIR, "tools", "query_costs.json")


def _correctness_files(repo_dir: str = _REPO_DIR) -> list[str]:
    """Committed CORRECTNESS_r*.json paths, in round order.

    ``git ls-files`` keeps the docstring honest: an untracked or
    in-progress round file (e.g. one the driver writes before importing
    this module) must not count as history, or the never-verified-first
    ordering collapses back to cheapest-first. git is trusted only when
    ``repo_dir`` is the top of its own checkout: a tree exported inside
    another checkout (``tools/ab.py`` exports under ``.perfbench/``)
    would otherwise list the enclosing repository's files, which are
    none of its own. Otherwise, or without git, an on-disk glob.
    """
    import subprocess

    def git(*argv: str) -> str:
        return subprocess.run(
            ["git", "-C", repo_dir, *argv],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout

    try:
        top = git("rev-parse", "--show-toplevel").strip()
        if os.path.realpath(top) == os.path.realpath(repo_dir):
            names = git("ls-files", "CORRECTNESS_r*.json").split()
            return sorted(os.path.join(repo_dir, n) for n in names)
    except Exception:
        pass
    return sorted(glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json")))


# name -> round in which the implementation materially changed. A query
# sorts with the never-verified class until its latest green driver row
# is from a round >= the change round — then the entry is inert and can
# be garbage-collected at leisure (it no longer needs hand-clearing each
# round; a stale green row simply never vouches for newer code).
_IMPL_CHANGED: dict[str, int] = {
    # r13 entries GC'd (e6/d10/d11/q1/q3/q5/flagship/g6/sim5 all
    # re-verified hash-exact in CORRECTNESS_r13.json, so those entries
    # were inert — same hygiene as the r10/r11 GCs).
    # r14 optimization round: queries whose Spark-side computation was
    # restructured for speed (results proven identical vs the unchanged
    # oracles at sf0.001/0.01 in-session, but the driver should
    # re-verify them first). d2: the cross-call hashed/sigs cache is
    # gone — both relations now materialize per invocation
    # (localCheckpoint) with the scan fanned out before the shingle
    # explode; d6/c15 consume d2's frames in-plan and change with it.
    "d2_dedup_minhash_lsh": 14,
    "d6_dedup_components": 14,
    "c7_fuzzy_decontaminate": 14,
    "c15_leakage_safe_split": 14,
    # r14: w2/e3 fan the single-row-group scan out BY THE WINDOW KEY
    # (one pinned exchange replaces the AQE-coalesced serial sort); g4's
    # diagonal join is hinted shuffled-hash (drops both wedge sorts) —
    # g4 is re-flagged for r15 below.
    "w2_running_total": 14,
    "e3_session_window": 14,
    # r14: the IVF family — _ivf_search derives the query-side cell
    # ranking from the pre-filtered query vectors (the corpus-wide
    # ranking subtree is consumed once), sql_lloyd_centroids returns its
    # k trained rows materialized, kmeans' training input materializes
    # before the 10-iteration fit; sim5's codebook projection and the
    # LSH plane literals are built as parsed SQL fragments (construction
    # cost only — bit-identical trees); sim8's sidecar write is a JVM
    # literal row. All proven hash-exact at sf0.001/0.01 in-session.
    "sim3_ivf_ann": 14,
    "sim4_ivf_kmeans_ann": 14,
    "sim4_recall_vs_exact": 14,
    "ml1_kmeans_cluster_sizes": 14,
    "sim5_pq_adc_ann": 14,
    "sim8_ann_serve_at_rest": 14,
    # r15: one lifetime rule for materialized intermediates. The graph
    # queries derive their edge list per call (the persisted per-corpus
    # edge relation is gone); the two-pass rank/cumsum helpers and the
    # shared CTE of sql6 read a lazy localCheckpoint instead of a
    # cache() (Scan ExistingRDD replaces InMemoryTableScan); sql7 drops
    # its temp view once analyzed. Checked hash-exact against the
    # oracles at sf0.001 and sf0.01.
    "g1_chain3_count": 15,
    "g2_star3_count": 15,
    "g3_triangle_count": 15,
    "g4_square_count": 15,
    "g6_pagerank": 15,
    "sql7_recursive_cte": 15,
    "sql6_materialized_cte": 15,
    "w8_ntile_buckets": 15,
    "w11_percent_rank_cume": 15,
    "c6_sequence_packing": 15,
    "c12_token_budget_select": 15,
    "c13_e2e_mix": 15,
    # r15: the incremental probe's verification runs on one exchange
    # (tagged batch ids, candidate pairs and shingle hits, grouped per
    # pair then per doc) instead of the per-stage broadcast chain and
    # count_distinct; same rows as before at sf0.001 and sf0.01.
    "d10_incremental_lsh_probe": 15,
    "d11_grown_index_probe": 15,
}


def _green_rounds() -> dict[str, int]:
    """name -> round of its latest committed CORRECTNESS row, for names
    whose LATEST row is green (hash_match, or by-design ``no_oracle``
    with rows). Latest-round-wins: a query that passed early but
    regressed later drops out entirely so the driver re-prioritizes it.
    """
    latest: dict[str, tuple[bool, int]] = {}
    for path in _correctness_files():
        try:
            with open(path) as f:
                rows = json.load(f)
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        except Exception:
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = bool(
                row.get("hash_match")
                or (row.get("err") == "no_oracle" and row.get("spark_rows") is not None)
            )
            latest[name] = (ok, rnd)
    return {n: rnd for n, (ok, rnd) in latest.items() if ok}


def _driver_green() -> set[str]:
    """Names whose LATEST committed CORRECTNESS_r*.json row is green."""
    return set(_green_rounds())


def _cost_order(names: list[str]) -> list[str]:
    """Order queries for the driver's finite (~50-row) verification
    budget: never-verified (or implementation-changed) first, then
    previously-green queries OLDEST green round first.

    Pure cheapest-first made the same cheap prefix win every round,
    starving ~23 queries of any CORRECTNESS row; never-verified-first
    fixed that but let early greens go stale — by round 4, 48 queries'
    latest green row predated round 3. Rotating the green class by
    green-round (oldest first, cheapest within a round) re-verifies the
    backlog a round at a time without starving new queries. Unmeasured
    names sort last within their class, in registration order.
    """
    try:
        with open(_COSTS_FILE) as f:
            costs = json.load(f)["costs"]
    except Exception:
        costs = {}
    rounds = _green_rounds()
    pos = {n: i for i, n in enumerate(names)}

    def klass(n: str) -> int:
        if n not in rounds or rounds[n] < _IMPL_CHANGED.get(n, 0):
            return 0
        return rounds[n]

    return sorted(
        names,
        key=lambda n: (klass(n), costs.get(n, float("inf")), pos[n]),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    A q7-shaped star join-aggregate: lineitem |><| orders |><| broadcast(part)
    -> groupBy(brand, year) -> exact-decimal aggregates -> orderBy.
    """
    from spark_sql_perf_spark.operators import QUERIES

    return QUERIES["flagship_star_agg"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame. Every
    computed column is aliased identically to its ``oracle_sql`` twin.
    """
    from spark_sql_perf_spark.operators import QUERIES

    return {n: QUERIES[n] for n in _cost_order(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    from spark_sql_perf_spark.operators import ORACLES

    return {n: ORACLES[n] for n in _cost_order(list(ORACLES))}
