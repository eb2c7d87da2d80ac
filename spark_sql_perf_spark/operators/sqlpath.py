"""SQL-string entry path (the TPC-DS factory path, Benchmark.scala:200-207).

These queries register temp views and go through `spark.sql(...)`, so the
full Catalyst pipeline runs from raw SQL — including the rewrites the
DataFrame corpus expresses manually: correlated-scalar-subquery
decorrelation (q1/q17), EXISTS -> left-semi (q10), NOT IN -> anti,
uncorrelated scalar subqueries in CASE (q9). The oracle is the SAME SQL
text (portable subset), so this also checks SQL-dialect parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import register_views
from .registry import query


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(text)


_Q17_SQL = """
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem
    WHERE l_quantity < (
      SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
      FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
"""


@query("sql1_correlated_scalar", oracle=_Q17_SQL)
def sql1_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery THROUGH SQL: Catalyst decorrelates it into
    the aggregate-join the DataFrame corpus (sub2) writes by hand."""
    return _sql(spark, sf_dir, _Q17_SQL)


_EXISTS_SQL = """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
"""


@query("sql2_exists_not_exists", oracle=_EXISTS_SQL)
def sql2_exists_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS through SQL -> semi + anti join in one plan.

    Customer-based so it stays non-empty at every sf: orders-per-customer
    is constant (~10), so P(no 'P' order) stays ~0.5 as data scales."""
    return _sql(spark, sf_dir, _EXISTS_SQL)


_CASE_SCALAR_SQL = """
    SELECT o_orderstatus,
           CASE WHEN COUNT(*) > (SELECT COUNT(*) FROM orders) / 4
                THEN 'major' ELSE 'minor' END AS segment_size,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
"""


@query("sql3_scalar_in_case", oracle=_CASE_SCALAR_SQL)
def sql3_scalar_in_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery inside CASE (TPC-DS q9 shape)."""
    return _sql(spark, sf_dir, _CASE_SCALAR_SQL)


_INTERSECT_SQL = """
    SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
"""


@query("sql4_intersect_pattern", oracle=_INTERSECT_SQL)
def sql4_intersect_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT through SQL (q14/q38 cross-channel-customers shape)."""
    return _sql(spark, sf_dir, _INTERSECT_SQL)


_LATERAL_SPARK = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c JOIN LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""

_LATERAL_ORACLE = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


@query("sql5_lateral_topn", oracle=_LATERAL_ORACLE)
def sql5_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (top-2
    orders per customer). Catalyst decorrelates this into a windowed
    rank over one orders shuffle — the same physical plan as the manual
    row_number formulation, declared relationally. Deterministic via the
    (o_totalprice DESC, o_orderkey) tie-break."""
    return _sql(spark, sf_dir, _LATERAL_SPARK)


_CTE_SQL = """
    WITH co AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY o_custkey),
    totals AS (
      SELECT COUNT(*) AS n_cust, SUM(spend) AS total_spend FROM co),
    big AS (
      SELECT co.o_custkey, co.n_orders, co.spend
      FROM co, totals
      WHERE co.spend * n_cust * 2 > total_spend * 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_big_spenders,
           CAST(SUM(n_orders) AS BIGINT) AS n_big_orders
    FROM big
"""


@query("sql6_materialized_cte", oracle=_CTE_SQL)
def sql6_materialized_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-branch WITH executed through ``plans.cte.materialize_ctes``
    (the q14a/q23/q24/q64 scale mode): the shared ``co`` aggregation is
    materialized and registered as a view, so both consuming branches
    (grand totals + the 1.5x-of-average filter) read its blocks instead
    of re-running the orders aggregation per branch — Spark's inlined-CTE
    plan scans orders once per reference. Results are identical to the
    plain WITH (the oracle runs the uninlined text); only the execution
    count of the CTE body drops. Exact-decimal spend and a cross-
    multiplied threshold (spend*n*2 > total*3) keep it hash-exact."""
    from ..plans.cte import materialize_ctes

    register_views(spark, sf_dir)
    return materialize_ctes(spark, _CTE_SQL, shared=("co",))


from .graph import _EDGES_SQL as _GRAPH_EDGES_SQL

_RCTE_BODY = """
    WITH RECURSIVE reach(node, hops) AS (
      SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
      UNION ALL
      SELECT g.dst AS node, r.hops + 1 AS hops
      FROM reach r JOIN g ON g.src = r.node
      WHERE r.hops < 3
    )
    SELECT node, MIN(hops) AS min_hops, COUNT(*) AS n_paths
    FROM reach GROUP BY node
"""

# oracle: fold the recursive CTE into the shared edge-derivation WITH
# list (DuckDB allows non-recursive CTEs inside a WITH RECURSIVE list)
_RCTE_ORACLE = (
    _GRAPH_EDGES_SQL.replace("WITH nn AS", "WITH RECURSIVE nn AS", 1).rstrip()
    + _RCTE_BODY.replace("WITH RECURSIVE reach", ",\n    reach", 1)
)


@query("sql7_recursive_cte", oracle=_RCTE_ORACLE)
def sql7_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS reachability via a genuine WITH RECURSIVE
    (Spark 4's recursive CTE execution): every (node, path) within 3
    hops of node 0 over the shared deterministic edge table, grouped to
    (min_hops, path multiplicity). UNION ALL + an explicit hop bound
    keeps both engines' iteration count and duplicate semantics
    identical, so the result is hash-exact. d6's connected components
    solved the same class iteratively in DataFrame code; this goes
    through the SQL surface — the reference corpus has no recursive
    queries, so this extends parity to the one SQL construct the rest of
    the repo had to unroll by hand. At scale each recursion step is one
    join of the frontier against the edge relation — the same per-
    iteration shuffle profile as g6's PageRank steps."""
    from .graph import edge_table

    # {g}: pyspark binds the frame to a generated temp view and drops it
    # once the body is analyzed, so the session's catalog is untouched
    return spark.sql(
        _RCTE_BODY.replace("JOIN g ON", "JOIN {g} g ON", 1),
        g=edge_table(spark, sf_dir),
    )
