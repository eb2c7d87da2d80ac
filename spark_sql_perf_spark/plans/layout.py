"""Physical-layout strategies: bucketing for co-located joins, salting
for skewed keys (the SURVEY.md 'Partitioning & shuffle' checklist), and
`sized_parts`, the one partition-count rule of the at-rest indexes.

Bucketing: writing both join sides bucketed by the join key lets
sort-merge joins run with ZERO exchange — at 100 TB the difference
between re-shuffling two fact tables per query and reading pre-shuffled
data. `bucketed_tables` + the test assert the Exchange-free plan.

Salting: a hot key floods one reducer. `salt_join` splits each hot left
row across `n_salts` sub-keys and replicates the matching right rows,
restoring parallelism with exact join semantics. AQE's skew-join handles
sort-merge cases automatically; explicit salting remains the tool for
aggregate skew and for joins AQE can't split (e.g. broadcast-ineligible
many-to-many).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame, name: str, key: str, n_buckets: int = 8,
    sort_by: str | None = None,
) -> None:
    """Save as a bucketed managed table (bucket pruning + shuffle-free
    joins on `key`)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(name)


def bucketed_join(spark: SparkSession, left: str, right: str, on) -> DataFrame:
    """Join two bucketed tables; with matching bucketing the plan has no
    Exchange on either side."""
    return spark.table(left).join(spark.table(right), on=on)


def salt_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Equi join with salted keys: left rows get a deterministic salt in
    [0, n_salts); right rows are replicated across every salt. Result rows
    are identical to the plain join — only the shuffle distribution changes
    (hot keys spread over n_salts reducers).
    """
    salted_left = left.withColumn(
        "_salt", (F.abs(F.xxhash64(F.col(left_key), F.monotonically_increasing_id())) % n_salts)
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    salted_right = right.select("*", salts)
    out = salted_left.join(
        salted_right,
        (salted_left[left_key] == salted_right[right_key])
        & (salted_left["_salt"] == salted_right["_salt"].cast("long")),
    )
    return out.drop("_salt")


# The most directories an at-rest index relation is split into.
MAX_PARTS = 1 << 14


def sized_parts(rows: int, rows_per_part: int = 1 << 14, max_parts: int = MAX_PARTS) -> int:
    """The smallest power of two that keeps each directory of a
    ``rows``-row relation at or under ``rows_per_part`` rows, clamped to
    [1, ``max_parts``] (a power of two): 1 at 1,000 rows, 64 at 1 M. A
    power of two keeps ``hash % 2p`` a refinement of ``hash % p``, so
    keys observed once at MAX_PARTS prune any relation exactly, however
    it was last sized."""
    want = max(1, -(-rows // rows_per_part))
    return min(1 << (want - 1).bit_length(), max_parts)
