"""Materialized-CTE execution for multi-branch WITH queries.

Spark inlines every WITH-clause CTE into each referencing branch, so a
query like TPC-DS q14a (reference shape: TPCDS_1_4_Queries.scala:609-713)
re-executes ``cross_items``/``avg_sales`` once per channel branch — three
scans of item/store_sales per CTE. At 100x scale the re-executed
aggregation dominates the query. The scale-mode fix: run each shared CTE
once (``memo.materialize``), register it as a temp view, and run the
remainder of the query against the views — one scan per CTE, identical
results (the CTE bodies are unchanged; only their execution count drops).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .. import memo


def split_with_clauses(sql: str) -> tuple[list[tuple[str, str]], str]:
    """Parse ``WITH a AS (...), b AS (...) <body>`` into CTEs + body.

    Paren-balance parsing, sufficient for this corpus (no parentheses
    inside string literals in any TPC-DS text). Returns ``([], sql)``
    when the query has no WITH clause.
    """
    m = re.match(r"\s*with\s+", sql, re.I)
    if not m:
        return [], sql
    i = m.end()
    ctes: list[tuple[str, str]] = []
    while True:
        m = re.match(r"\s*([A-Za-z_]\w*)\s+as\s*\(", sql[i:], re.I)
        if not m:
            break
        name = m.group(1)
        j = i + m.end()
        depth, k = 1, j
        while depth:
            if k >= len(sql):
                raise ValueError(
                    f"unbalanced parentheses parsing CTE {name!r} "
                    "(paren inside a string literal, or truncated SQL?)"
                )
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            k += 1
        ctes.append((name, sql[j : k - 1]))
        i = k
        m2 = re.match(r"\s*,", sql[i:])
        if not m2:
            break
        i += m2.end()
    return ctes, sql[i:]


def materialize_ctes(
    spark: SparkSession, sql: str, shared: tuple[str, ...] = ()
) -> DataFrame:
    """Run ``sql`` with its WITH-clause CTEs lifted into temp views.

    Every CTE is registered as a temp view in definition order (so later
    CTEs can reference earlier ones, e.g. q23's best_ss_customer ->
    max_store_sales); the names in ``shared`` — the ones referenced by
    more than one branch — are materialized so each executes exactly
    once. The views are dropped as soon as the body has been analyzed
    (the returned frame holds the resolved plans, not the names), so
    no view outlives the call.
    """
    ctes, body = split_with_clauses(sql)
    try:
        for name, cte_body in ctes:
            df = spark.sql(cte_body)
            if name in shared:
                df = memo.materialize(df, eager=False)
            df.createOrReplaceTempView(name)
        return spark.sql(body)
    finally:
        for name, _ in ctes:
            spark.catalog.dropTempView(name)
