"""Sign-LSH (random-hyperplane) signature expressions over an
array<double> column named ``v``, bit-identical in Spark and DuckDB.

Plane component i of hyperplane ``bit`` is md5-derived
(md5('lsh|p{bit}-{i}') first 8 hex digits -> [0, 2^32) -> [-1, 1)), so
both engines construct the same planes from nothing but the shared md5
— no side-channel plane table to keep in sync. Shared by sim2's ANN
bucketing and d5's dedup blocking; lives in this leaf module (no
registry import) so either consumer can be imported first without a
cycle.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import functions as F

from .text import md5_hash32_sql

LSH_BITS = 8

# Adaptive (LSH-forest) bucket splitting, shared by sim6's kNN graph,
# d5's embedding dedup, and the streaming ANN server: buckets over
# BUCKET_CAP members re-hash with SPLIT_BITS extension planes; split
# keys live past their level's marker (split_marker below) so they
# never collide with unsplit sig0 values. Constants live in this leaf
# module so every consumer (pipeline.similarity, pipeline.dedup's
# module-load oracle, streaming.ann) can import them without a cycle.
#
# These defaults are ORACLE-SCALE constants, NOT production sizing:
# BUCKET_CAP=5 / SPLIT_BITS=4 are chosen so the sf0.01 test corpus
# (500 vectors, buckets reaching 8) exercises the split path in every
# driver-verified query. A production corpus must size all three knobs
# to its row count — use ``sized_lsh_params`` below, which encodes the
# rule the scale probe validates at 500k-64M rows.
SPLIT_BITS = 4
BUCKET_CAP = 5  # sf0.01 buckets reach 8, so the split path IS oracle-exercised

# The split RECURSES (LSH-forest proper, r8): a split sub-bucket still
# over the cap re-hashes with the NEXT split_bits extension planes, up
# to SPLIT_LEVELS deep. Level-i keys are sig0 + sigx1 + .. + sigxi +
# marker_i with marker_i = 1 << (nbits + i*split_bits); the level key
# ranges [marker_i, 2*marker_i) are pairwise disjoint (marker_{i+1} >=
# 2*marker_i for split_bits >= 1) and disjoint from unsplit sig0 values
# (< marker_1), so no cross-level collisions exist by construction.
SPLIT_LEVELS = 2


def split_marker(level: int, nbits: int = LSH_BITS, split_bits: int = SPLIT_BITS) -> int:
    """Key-space offset for level-``level`` split buckets."""
    return 1 << (nbits + level * split_bits)


class LshParams(NamedTuple):
    """The complete adaptive-bucketing key space: everything a probe
    must agree on with the index it probes. An index built with one
    tuple and probed with another computes keys in a DIFFERENT space and
    silently returns no/wrong matches (the r8 ADVICE latent bug), so the
    serving layer carries this tuple WITH the index — in memory on the
    ``AnnIndex`` handle, at rest in the ``_params`` sidecar next to the
    partitioned layout — and every key computation takes it explicitly.
    Defaults are the ORACLE-SCALE module constants (see above); use
    ``sized_params`` for a production corpus."""

    nbits: int = LSH_BITS
    split_bits: int = SPLIT_BITS
    cap: int = BUCKET_CAP
    levels: int = SPLIT_LEVELS


def sized_params(n: int, cap: int = 64, levels: int = SPLIT_LEVELS) -> LshParams:
    """``sized_lsh_params``' rule as a full LshParams (the form the
    serving/dedup builders thread through key computation)."""
    nbits, split_bits, cap = sized_lsh_params(n, cap)
    return LshParams(nbits, split_bits, cap, levels)


def sized_lsh_params(n: int, cap: int = 64) -> tuple[int, int, int]:
    """(nbits, split_bits, cap) sized to a corpus of ``n`` vectors — the
    production counterpart of the oracle-scale module constants.

    Sizing rule (validated in SCALE_PROBE.md's knn cells, 500k-64M rows,
    candidate pairs/row flat ~15 across the whole range):

    - ``nbits ~ log2(n/2)``: base signature width tracks the corpus so
      the MEAN bucket holds ~2 vectors. Width alone is not enough —
      sign-LSH bucket masses are multiplicatively uneven, so the dense
      tail's sum-of-squares candidate volume grows superlinearly even at
      this width (measured 61x -> 98x pairs/row from 500k -> 2M before
      the split existed).
    - ``split_bits = 10`` extension planes re-hash any bucket over
      ``cap`` members into 1024 sub-buckets, flattening the tail.

    BOUND (the honest contract): the split recurses SPLIT_LEVELS=2 deep,
    so the expected sub-bucket size is bounded for base buckets up to
    ~``cap << (SPLIT_LEVELS * split_bits)`` members — 67M at these
    defaults, i.e. any physically plausible dense region. What no depth
    can separate is vectors whose SIGNS agree on every plane (exact
    duplicates and rescales, which are sign-invariant): those stay
    co-bucketed by construction and are exact-dedup's job (d1/d5), not
    ANN's. Callers that skip this helper and inherit the module
    constants get test-scale behavior, not a scale guarantee.
    """
    nbits = max(LSH_BITS, (max(n, 2) // 2).bit_length() - 1)  # ~log2(n/2)
    return nbits, 10, cap


def _plane_sign_sql(bit: int) -> str:
    """DuckDB: sign bit `bit` = sign of dot(v, plane_bit) where
    plane_bit[i] = md5_hash32(bit|i) / 2^31 - 1  (deterministic in [-1, 1))."""
    hash_arg = f"'p{bit}-' || CAST(i AS VARCHAR)"
    plane_i = f"({md5_hash32_sql(hash_arg, 'lsh')} / 2147483648.0 - 1.0)"
    return (
        f"CASE WHEN list_sum(list_transform(range(1, len(v) + 1),"
        f" i -> v[i] * {plane_i})) > 0 THEN {1 << bit} ELSE 0 END"
    )


def _plane_sign_spark(bit: int) -> F.Column:
    # Divisor pinned to DOUBLE: a bare 2147483648.0 literal parses as
    # DECIMAL(11,1) and BIGINT / DECIMAL is decimal division, ~1e-12 off
    # the exact IEEE quotient — enough to flip a sign on a projection
    # that close to zero (see tests/test_lsh.py).
    plane_i = (
        f"(cast(conv(substring(md5(concat('lsh|p{bit}-', cast(i as string))), 1, 8), 16, 10) AS BIGINT)"
        f" / cast(2147483648.0 as double) - 1.0)"
    )
    proj = F.expr(
        f"aggregate(transform(sequence(1, size(v)), i -> element_at(v, i) * {plane_i}),"
        f" cast(0.0 as double), (acc, x) -> acc + x)"
    )
    return F.when(proj > 0, F.lit(1 << bit)).otherwise(F.lit(0))


def sign_lsh_sig_sql(nbits: int = LSH_BITS, lo: int = 0) -> str:
    """DuckDB expression for the nbits-bit hyperplane-sign signature of
    a DOUBLE[] column named ``v`` (bit-identical to the Spark twin).
    ``lo`` starts the plane family at a higher bit — used for the
    EXTENSION planes that adaptively split oversized buckets (the bit
    weights stay 1 << b, so an extension signature is already shifted
    past the base signature's value range)."""
    return " + ".join(_plane_sign_sql(b) for b in range(lo, lo + nbits))


def sql_double(v: float) -> str:
    """``v`` as a Spark SQL double literal. ``repr`` round-trips every
    finite float exactly; nan and inf have no literal form (``nanD``
    would fail to parse far from here), so they are refused now."""
    if not math.isfinite(v):
        raise ValueError(f"non-finite value {v!r} has no SQL double literal")
    return f"{v!r}D"


def _plane_value(bit: int, i: int) -> float:
    """Python twin of the md5-derived plane component (i is 1-based, as
    in the SQL ``range``/``sequence`` forms): bit-identical to what the
    in-expression derivation computes — exact 32-bit int divided by 2^31
    (exact in IEEE double) minus 1.0."""
    import hashlib

    h = hashlib.md5(f"lsh|p{bit}-{i}".encode()).hexdigest()[:8]
    return int(h, 16) / 2147483648.0 - 1.0


# Optionally unroll a plane dot into plain column arithmetic: the
# zip_with/aggregate fold is a higher-order expression Spark evaluates
# INTERPRETED, and one such node inside a projection drags the whole
# projection out of whole-stage codegen — measured 2x on the knn probe's
# self-join, whose both sides re-evaluate the bucketing projection's
# conditional deep-level extension. The unrolled sum adds strictly
# left-to-right from element 0 and x + 0.0 == x for every non-(-0.0)
# IEEE value, so it is bit-identical to the fold and to the DuckDB
# list_sum (the same argument as similarity._dot). Unrolling is OPT-IN
# per call site because it only wins for FEW planes in one projection:
# a full base signature (17-24 planes x dim terms) unrolled blows the
# codegen method budget and lands in per-node interpreted evaluation,
# measured SLOWER than the fold's tight loop — the checkpoint
# signatures keep the fold, the split_bits-plane inline extension
# unrolls.
_PLANE_UNROLL_MAX_DIM = 32


def _plane_sign_spark_lit(bit: int, dim: int, unroll: bool = False) -> F.Column:
    # Plane literals are assembled as ONE parsed SQL fragment instead of
    # dim separate F.lit() Column objects: each lit/multiply/add is a
    # py4j round trip, and a 16-plane x dim-64 signature paid ~0.5 s of
    # pure driver construction per call site (r14 profile; the expr
    # string parses in ~10 ms). repr(float) round-trips exactly and
    # Spark's double-literal parse is correctly rounded, so the parsed
    # Literal carries the identical IEEE bits and the projection tree
    # (GetArrayItem * Literal, left-associated sum / zip_with fold) is
    # unchanged — bit-identical signatures (tests/test_lsh.py).
    vals = [_plane_value(bit, i) for i in range(1, dim + 1)]
    if unroll and dim <= _PLANE_UNROLL_MAX_DIM:
        proj = F.expr(
            " + ".join(f"(v[{i}] * {sql_double(v)})" for i, v in enumerate(vals))
        )
    else:
        plane = F.expr("array(" + ",".join(map(sql_double, vals)) + ")")
        proj = F.aggregate(
            F.zip_with(F.col("v"), plane, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    return F.when(proj > 0, F.lit(1 << bit)).otherwise(F.lit(0))


def sign_lsh_sig_spark(
    nbits: int = LSH_BITS,
    dim: int | None = None,
    lo: int = 0,
    unroll: bool = False,
) -> F.Column:
    """Spark twin of ``sign_lsh_sig_sql`` over an array<double> column
    ``v``.

    Pass ``dim`` (the fixed vector length) to embed the hyperplanes as
    ARRAY LITERALS resolved once at plan time. Without it the plane
    components are md5-derived INSIDE the row expression — correct, but
    the engine then recomputes per-(bit, i) constants once per row
    element: at 10^9 rows x 64 dims x 8 bits that is ~5e11 md5 calls
    for values that never change. Both forms divide the md5-derived
    32-bit int by a DOUBLE-pinned 2^31 (see ``_plane_sign_spark``), so
    their plane components and left-to-right summations are bit-identical
    to each other and to the DuckDB oracle's; oracle hashes are
    unaffected by the choice. The literal form additionally requires
    vectors of uniform length (zip_with would null-pad a short row and
    null its signature).
    """
    sig = None
    for b in range(lo, lo + nbits):
        term = _plane_sign_spark_lit(b, dim, unroll) if dim else _plane_sign_spark(b)
        sig = term if sig is None else sig + term
    return sig


# ---------------------------------------------------------------------------
# Shared multi-level bucketing SQL (the DuckDB twin of
# pipeline.similarity.lsh_buckets_df). Living here keeps the THREE
# oracle texts that replay the adaptive split (sim6, sim7, d5) generated
# from one definition instead of hand-tripled.
# ---------------------------------------------------------------------------

def lsh_sig_cols_sql(
    nbits: int = LSH_BITS,
    split_bits: int = SPLIT_BITS,
    levels: int = SPLIT_LEVELS,
) -> str:
    """Select-list fragment computing sig0 plus the per-level extension
    signatures sigx1..sigxL over a DOUBLE[] column ``v``."""
    cols = [f"{sign_lsh_sig_sql(nbits)} AS sig0"]
    for i in range(1, levels + 1):
        cols.append(
            f"{sign_lsh_sig_sql(split_bits, lo=nbits + (i - 1) * split_bits)}"
            f" AS sigx{i}"
        )
    return ",\n           ".join(cols)


def lsh_bucketed_cte_sql(
    src: str,
    out: str = "bucketed",
    cols: str = "vec_id, v",
    nbits: int = LSH_BITS,
    split_bits: int = SPLIT_BITS,
    cap: int = BUCKET_CAP,
    levels: int = SPLIT_LEVELS,
) -> str:
    """CTE-chain fragment (to splice into a WITH list) that turns
    relation ``src`` — columns ``cols`` + sig0 + sigx1..sigxL — into
    relation ``out`` with columns ``cols`` + the final adaptive bucket
    key ``sig``. Per level: a window count over the current key, then a
    CASE that advances still-oversized buckets to the next level's key
    space. Bit-identical to the Spark side's narrow-aggregate+join-back
    form (same counts, same CASE arithmetic)."""
    parts = []
    prev, key = src, "sig0"
    for i in range(1, levels + 1):
        mi = split_marker(i, nbits, split_bits)
        carry = ", ".join(f"sigx{j}" for j in range(i + 1, levels + 1))
        carry = f"{carry}, " if carry else ""
        cnt = f"_lsh_c{i}"
        parts.append(
            f"{cnt} AS (SELECT *, COUNT(*) OVER (PARTITION BY {key})"
            f" AS _cnt{i} FROM {prev})"
        )
        if i == 1:
            case = (
                f"CASE WHEN _cnt1 > {cap} THEN sig0 + sigx1 + {mi}"
                f" ELSE sig0 END"
            )
        else:
            mp = split_marker(i - 1, nbits, split_bits)
            # only an already-split key (>= mp) can hold > cap rows; the
            # guard mirrors that invariant in the text
            case = (
                f"CASE WHEN {key} >= {mp} AND _cnt{i} > {cap}"
                f" THEN {key} - {mp} + sigx{i} + {mi} ELSE {key} END"
            )
        name = out if i == levels else f"_lsh_s{i}"
        alias = "sig" if i == levels else f"_k{i}"
        parts.append(f"{name} AS (SELECT {cols}, {carry}{case} AS {alias} FROM {cnt})")
        prev, key = name, alias
    return ",\n    ".join(parts)


def lsh_query_key_exprs_sql(
    nbits: int = LSH_BITS,
    split_bits: int = SPLIT_BITS,
    levels: int = SPLIT_LEVELS,
) -> list[str]:
    """The levels+1 candidate bucket keys a serving-side query must
    probe (it cannot know a region's split depth without consulting the
    index): sig0, then sig0+sigx1+marker_1, .. through level L. At most
    one key exists on the index side per region, so the explode costs
    ``levels`` extra probe rows per query, never duplicate matches."""
    keys, acc = ["sig0"], "sig0"
    for i in range(1, levels + 1):
        acc = f"{acc} + sigx{i}"
        keys.append(f"{acc} + {split_marker(i, nbits, split_bits)}")
    return keys
