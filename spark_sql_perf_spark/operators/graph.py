"""Graph-pattern multi-join corpus (SURVEY.md §2.3 J4-J7, the fork's soul).

The reference runs chain/star/circle(triangle)/square pattern queries as
self-joins over a 2-column edge table (LinearQueryPerformance.scala:58-65,
SquareQueryPerformance.scala:69-89, CircleQueryPerformance.scala:77-93).
We derive a deterministic pseudo-random edge table from `orders` so the
same graph exists in Spark and the DuckDB oracle:

    n_nodes = max(|orders| / 8, 25)          -- keeps avg degree ~8 at any
    src     = md5('s'||o_orderkey) % n_nodes    scale factor, so pattern
    dst     = md5('d'||o_orderkey) % n_nodes    counts stay O(|orders|)

md5 is the one hash both engines share bit-for-bit. Self-loops removed,
edges deduplicated.

Scale notes: pattern joins are the classic shuffle-explosion workload —
the reference's HyperCube shuffle existed for exactly this. Our stock-Spark
answer: keep the edge relation skinny (two longs), let AQE pick
sort-merge vs broadcast per join, and count without materializing (the
final agg is partial). The statistics-driven join planner in
``plans/multijoin.py`` layers the strategy choice on top.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import table
from .registry import query

_EDGES_SQL = """
    WITH nn AS (
      SELECT GREATEST(COUNT(*) // 8, 25) AS n FROM orders),
    edges AS (
      SELECT DISTINCT
        CAST(('0x' || SUBSTR(md5('s' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % nn.n AS src,
        CAST(('0x' || SUBSTR(md5('d' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % nn.n AS dst
      FROM orders, nn),
    g AS (SELECT src, dst FROM edges WHERE src <> dst)
"""


def edge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic edge list (src, dst) derived from orders,
    built afresh per call."""
    orders = table(spark, sf_dir, "orders")
    # floor division on both sides — DuckDB's CAST(double AS BIGINT) rounds
    # while Spark's truncates, so the derivation must stay integral.
    nn = orders.agg(
        F.greatest(F.floor(F.count(F.lit(1)) / 8).cast("bigint"), F.lit(25).cast("bigint")).alias("n")
    )

    def h(prefix: str) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), F.col("o_orderkey").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint") % F.col("n")

    return (
        orders.crossJoin(F.broadcast(nn))
        .select(h("s").alias("src"), h("d").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


@query(
    "g1_chain3_count",
    oracle=_EDGES_SQL
    + """
    SELECT COUNT(*) AS n_chains
    FROM g a JOIN g b ON a.dst = b.src JOIN g c ON b.dst = c.src
    """,
)
def g1_chain3_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: 3-chain pattern `a.target=b.source AND b.target=c.source`
    (LinearQueryPerformance.scala:77-91)."""
    g = edge_table(spark, sf_dir)
    a, b, c = g.alias("a"), g.alias("b"), g.alias("c")
    return (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .join(c, F.col("b.dst") == F.col("c.src"))
        .agg(F.count(F.lit(1)).alias("n_chains"))
    )


@query(
    "g2_star3_count",
    oracle=_EDGES_SQL
    + """
    SELECT COUNT(*) AS n_stars
    FROM g a JOIN g b ON a.src = b.src JOIN g c ON b.src = c.src
    WHERE a.dst < b.dst AND b.dst < c.dst
    """,
)
def g2_star3_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: 3-star pattern, leaves ordered so each star counts once
    (StarQueryPerformance.scala:77-91)."""
    g = edge_table(spark, sf_dir)
    a, b, c = g.alias("a"), g.alias("b"), g.alias("c")
    return (
        a.join(b, F.col("a.src") == F.col("b.src"))
        .join(c, F.col("b.src") == F.col("c.src"))
        .where((F.col("a.dst") < F.col("b.dst")) & (F.col("b.dst") < F.col("c.dst")))
        .agg(F.count(F.lit(1)).alias("n_stars"))
    )


def support_pairs(g: DataFrame) -> DataFrame:
    """Distinct undirected support pairs of a directed edge set.

    One row per unordered vertex pair {lo < hi} connected in either
    direction, with per-direction presence flags: ``fwd`` = lo->hi
    exists, ``rev`` = hi->lo exists. Both direction flags survive, so
    any directed pattern over a vertex set can be reconstructed after
    an orientation-based enumeration.
    """
    return (
        g.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            (F.col("src") < F.col("dst")).alias("is_fwd"),
        )
        .groupBy("lo", "hi")
        .agg(F.max("is_fwd").alias("fwd"), (~F.min("is_fwd")).alias("rev"))
    )


def oriented_adjacency(pairs: DataFrame) -> DataFrame:
    """Per-vertex oriented out-neighbor arrays, rank = (degree, id).

    The classic triangle-enumeration preconditioning: orient every
    support pair from its lower-degree endpoint to its higher-degree one
    (ties broken by vertex id), so every vertex's oriented out-degree is
    O(sqrt(m)) — a hub with degree d contributes O(d) oriented out-edges
    only toward even-higher-rank vertices instead of O(d^2) wedges.
    The out-neighbors are aggregated into one rank-sorted array per
    vertex (``u``, ``ns``), each element carrying the neighbor's rank
    key and the pair's id-order direction flags, so wedge generation is
    a per-row array expression with no self-join and no re-execution of
    the degree computation.
    """
    deg = (
        pairs.select(F.col("lo").alias("v"))
        .unionAll(pairs.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    p = (
        pairs.join(deg.select(F.col("v").alias("lo"), F.col("deg").alias("dlo")), "lo")
        .join(deg.select(F.col("v").alias("hi"), F.col("deg").alias("dhi")), "hi")
    )
    # rank(lo) < rank(hi) iff dlo < dhi, or dlo == dhi (then id order, lo < hi)
    lo_first = F.col("dlo") <= F.col("dhi")
    out = p.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.struct(
            F.when(lo_first, F.col("dhi")).otherwise(F.col("dlo")).alias("wdeg"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("w"),
            F.col("fwd"),
            F.col("rev"),
        ).alias("nb"),
    )
    # sort_array orders by (wdeg, w, ...) = rank, so index order == rank order
    return out.groupBy("u").agg(F.sort_array(F.collect_list("nb")).alias("ns"))


# Fallback pattern-join strategy threshold when no session is reachable:
# two longs/row against the engine's default 64m autoBroadcastJoinThreshold.
NAIVE_TRIANGLE_MAX_EDGES = 4_194_304

_EDGE_ROW_BYTES = 16  # (src BIGINT, dst BIGINT)


def _parse_size_bytes(raw: str) -> int:
    """Parse a Spark byte-size conf string ('64m', '10485760b', '1g')."""
    s = str(raw).strip().lower()
    mult = 1
    for suffix, m in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suffix):
            mult, s = m, s[: -len(suffix)]
            break
    # float() first: Spark accepts fractional size strings ('1.5g'),
    # and int('1.5') would raise — silently falling back to the 64m
    # default instead of tracking the session's actual threshold.
    return int(float(s) * mult)


def naive_pattern_max_edges(spark: SparkSession | None) -> int:
    """Edge-count ceiling for the naive self-join pattern plans, derived
    from ``spark.sql.autoBroadcastJoinThreshold`` (bytes / 16-byte edge
    rows) so the strategy flip tracks cluster config instead of assuming
    the engine default.

    At or under the ceiling the edge relation broadcasts, and the naive
    chain runs as pipelined broadcast-hash joins in one codegen stage —
    measured 7-10x faster than the ordered-enumeration pipelines at that
    size, even with planted hub skew, because the wedge explosion streams
    through codegen without ever materializing. Above it, joins shuffle,
    the Sum(in*out) wedge intermediate becomes real bytes on the wire,
    and the ordered enumerations win asymptotically. A disabled broadcast
    (threshold <= 0) returns 0: always take the ordered path.
    """
    if spark is None:
        return NAIVE_TRIANGLE_MAX_EDGES
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        thresh = _parse_size_bytes(raw)
    except Exception:
        return NAIVE_TRIANGLE_MAX_EDGES
    return max(0, thresh) // _EDGE_ROW_BYTES


_SKEW_SAMPLE_TARGET = 1 << 17  # ~131k sampled edges bounds the probe job

# session -> {semantic plan hash: estimated max degree}. The probe costs
# one pass over the (under-ceiling) edge relation; memoizing on the
# SEMANTIC plan hash means repeated pattern queries over the same graph
# — a bench loop, a triangle+square pair on one edge set — pay it once
# per session instead of once per DataFrame construction. Keyed on a
# WeakKeyDictionary of the live session object (not id(), which the
# allocator can reuse after a stopped session is GC'd), so entries die
# with their session and cannot leak across sessions; the per-session
# dict is size-bounded. Known staleness: semanticHash covers the PLAN,
# not the data — if files under a memoized plan's path are rewritten
# in-session, call clear_degree_memo() (or build the DataFrame afresh
# with a different plan shape) before re-planning pattern queries.
_DEGREE_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_DEGREE_MEMO_MAX = 256


def clear_degree_memo() -> None:
    """Drop memoized degree estimates (after rewriting data in place)."""
    _DEGREE_MEMO.clear()


def sampled_max_degree(g: DataFrame, est_rows: int) -> int:
    """Estimated maximum total degree from a deterministic hash sample.

    Edges are kept when xxhash64(src, dst) % k == 0 with k sized so
    ~131k edges survive; a hub of true degree d retains ~d/k sampled
    edges (binomial), so sampled_max * k estimates the true hub degree.
    Cost honesty: for a DERIVED edge relation the hash filter cannot
    push below the derivation (e.g. a distinct), so the probe pays one
    full pass over the relation — which is why the chooser only calls it
    for graphs already under the broadcast ceiling (<= the threshold in
    bytes, a few million edges at the 64m default): one extra pass over
    a broadcast-sized relation, the same sample-then-plan discipline a
    cost-based optimizer applies, never a pass over a 100 TB graph
    (those exceed the ceiling and take the ordered path with no probe).
    Results are memoized per live session (see _DEGREE_MEMO's staleness
    note; clear_degree_memo() resets).
    """
    try:
        memo = _DEGREE_MEMO.setdefault(g.sparkSession, {})
        key = g.semanticHash()
    except Exception:
        memo, key = None, None
    if memo is not None and key in memo:
        return memo[key]
    k = max(1, est_rows // _SKEW_SAMPLE_TARGET)
    s = g if k == 1 else g.where(F.pmod(F.xxhash64("src", "dst"), F.lit(k)) == 0)
    degs = (
        s.select(F.col("src").alias("x"))
        .unionAll(s.select(F.col("dst").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    row = degs.agg(F.max("d").alias("mx")).first()
    mx = 0 if row is None or row["mx"] is None else int(row["mx"])
    if memo is not None:
        if len(memo) >= _DEGREE_MEMO_MAX:
            memo.clear()
        memo[key] = mx * k
    return mx * k


def pattern_degree_ordered(g: DataFrame) -> bool:
    """Strategy chooser for the pattern plans (triangle/square): True =
    take the degree-ordered / Chiba-Nishizeki enumeration, False = the
    naive broadcast self-join chain.

    Two signals, cheapest first:

    - Edge-count ceiling (parquet-footer estimate, no job): above the
      conf-derived broadcast ceiling the naive chain would shuffle its
      Sum(in*out) wedge intermediate — always take the ordered path.
    - Degree skew (hash-sample job, under-ceiling graphs only): the
      naive chain's wedge work at a hub is ~max_deg^2 even when the
      edges broadcast, while the ordered enumerations are bounded by
      ~m^1.5. Flip early when max_deg^2 > m^1.5, i.e. max_deg > m^0.75.
      The threshold is deliberately NOT mean-relative: the probe's
      planted-hub graph (hub degree ~m/256, ~1000x the mean) still runs
      7-10x faster on the naive broadcast chain because the wedge
      explosion streams through codegen without materializing — a
      mean-multiple test with any sane constant would misfire there.
      max_deg ~ m^0.75 is where the hub wedge work overtakes what the
      ordered plan would do in total, and only a small-but-hubby graph
      (a near-star) crosses it under the broadcast ceiling.
    """
    from ..plans.multijoin import _estimate_rows

    est = _estimate_rows(g)
    if est > naive_pattern_max_edges(g.sparkSession):
        return True
    if est <= 0:
        return False
    mx = sampled_max_degree(g, est)
    return mx * mx > est**1.5


def triangle_count_df(g: DataFrame, degree_ordered: bool | None = None) -> DataFrame:
    """Count directed triangles x->y->z->x with x < y < z.

    Two physical strategies, same count (the choice is a pure plan
    decision, mirroring what a cost-based optimizer would do):

    - ``degree_ordered=False``: the naive id-ordered 3-way self-join.
      Optimal while the edge relation is broadcast-sized — the wedge
      blow-up never materializes, it streams through one whole-stage
      codegen pipeline.
    - ``degree_ordered=True``: enumerate each undirected triangle
      exactly once as a wedge of two oriented out-edges at its
      lowest-rank vertex plus a closing pair (the standard O(m^1.5)
      construction — see ``oriented_adjacency``), then recover the
      directed predicate from per-pair direction flags: sort the triple
      by id into x < y < z and require fwd{x,y}, fwd{y,z}, rev{x,z}.
      Wedge work is bounded by oriented out-neighbor pairs instead of
      in*out products at hub vertices — on a power-law graph at 100 TB
      that is the difference between O(m^1.5) and a quadratic hub
      blow-up. Wedge pairs come from a codegen'd posexplode anchor plus
      an explode of the suffix slice over the rank-sorted adjacency
      arrays, so the enumeration costs two shuffles (adjacency groupBy
      + closing join) with no self-join and no interpreted lambdas.
    - ``None`` (default): ``pattern_degree_ordered`` decides — edge
      count vs the conf-derived broadcast ceiling first (parquet-footer
      metadata, no job), then a sampled degree-skew check so a
      small-but-hubby graph (near-star) flips to the ordered path even
      under the ceiling.
    """
    if degree_ordered is None:
        degree_ordered = pattern_degree_ordered(g)
    if not degree_ordered:
        a, b, c = g.alias("a"), g.alias("b"), g.alias("c")
        return (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .join(c, F.col("b.dst") == F.col("c.src"))
            .where(
                (F.col("c.dst") == F.col("a.src"))
                & (F.col("a.src") < F.col("b.src"))
                & (F.col("b.src") < F.col("c.src"))
            )
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
    # Materialize the support pairs ONCE before fanning into the degree /
    # adjacency / closing consumers — without this the edge derivation
    # subtree re-executes ~4x (once per branch), i.e. 3 redundant passes
    # over the edge source at scale. Same discipline plans/cte.py applies
    # to multi-branch SQL CTEs; localCheckpoint also keeps lineage flat.
    # Fault-tolerance tradeoff, deliberate: localCheckpoint truncates
    # lineage to executor-LOCAL blocks, so losing an executor mid-query
    # fails the query (no recompute path) — acceptable for this
    # single-query materialization because the rerun recomputes from the
    # source anyway. On a cluster with expected executor churn, swap for
    # persist(DISK)+count() (recomputable lineage) or a reliable
    # checkpoint to a shared store.
    pairs = memo.materialize(support_pairs(g), eager=True)
    adj = oriented_adjacency(pairs)
    # all index pairs i < j from the rank-sorted out-neighbor array, as
    # a posexplode anchor + explode of the suffix slice (two codegen'd
    # Generate nodes). The previous flatten(transform(... transform))
    # lambda form produced identical rows but ran the higher-order
    # functions INTERPRETED per element — measured 22x slower at 8.2M
    # wedges (6.7s vs 0.3s on the 2M-edge probe graph) — and buffered
    # the whole per-row pair array besides.
    anchored = adj.select("u", "ns", F.posexplode("ns").alias("i", "pa"))
    wedges = anchored.select(
        "u",
        "pa",
        F.explode(F.expr("slice(ns, i + 2, size(ns))")).alias("pb"),
    ).select(
        "u",
        F.col("pa.w").alias("p"),
        F.col("pa.fwd").alias("fwd_up"),
        F.col("pa.rev").alias("rev_up"),
        F.col("pb.w").alias("q"),
        F.col("pb.fwd").alias("fwd_uq"),
        F.col("pb.rev").alias("rev_uq"),
        F.least("pa.w", "pb.w").alias("clo"),
        F.greatest("pa.w", "pb.w").alias("chi"),
    )
    # shuffle-hash over sort-merge: the pairs side is two longs + two
    # bools (hash table, no sort of the wider wedge side); AQE may still
    # downgrade to broadcast when pairs is small
    closing = pairs.select(
        F.col("lo").alias("clo"), F.col("hi").alias("chi"), "fwd", "rev"
    ).hint("shuffle_hash")
    closed = wedges.join(closing, ["clo", "chi"])
    u, p, q = F.col("u"), F.col("p"), F.col("q")
    x, z = F.least(u, p, q), F.greatest(u, p, q)
    y = u + p + q - x - z

    def flag_of_pair_excluding(v: F.Column, flag: str) -> F.Column:
        # pair {u,p} flags ride on *_up, {u,q} on *_uq, {p,q} on the
        # joined closing pair; the pair NOT containing v is the one
        # whose excluded vertex is v
        return (
            F.when(q == v, F.col(f"{flag}_up"))
            .when(p == v, F.col(f"{flag}_uq"))
            .otherwise(F.col(flag))
        )

    return closed.where(
        flag_of_pair_excluding(z, "fwd")  # x -> y
        & flag_of_pair_excluding(x, "fwd")  # y -> z
        & flag_of_pair_excluding(y, "rev")  # z -> x
    ).agg(F.count(F.lit(1)).alias("n_triangles"))


@query(
    "g3_triangle_count",
    oracle=_EDGES_SQL
    + """
    SELECT COUNT(*) AS n_triangles
    FROM g a JOIN g b ON a.dst = b.src JOIN g c ON b.dst = c.src
    WHERE c.dst = a.src AND a.src < b.src AND b.src < c.src
    """,
)
def g3_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: ordered triangle (cycle) pattern — chain + closing edge +
    `a.source < b.source < c.source` (CircleQueryPerformance.scala:77-93,
    TwitterQueryPerformance.scala:36-40). The oracle keeps the naive
    3-way self-join; the Spark plan picks between that and the
    degree-ordered wedge enumeration by estimated edge count
    (``triangle_count_df``) — same count either way, without the
    in*out hub explosion once the graph outgrows broadcast."""
    return triangle_count_df(edge_table(spark, sf_dir))


def _square_count_diagonal(g: DataFrame) -> DataFrame:
    """Broadcast-scale square plan: join two wedge relations on the
    (s, u) diagonal — forward 2-paths s->t->u and backward 2-paths
    u->v->s — instead of the naive edge-at-a-time chain. The naive plan
    materializes 3-paths (|2-paths| * avg-degree rows) before the
    closing filter; here the largest intermediate is the 2-path
    relations themselves, and the final join on (s, u) streams
    mid-pairs into a partial count without materializing them. The
    s < t / s < v halves of the canonical predicate prune each wedge
    relation before the diagonal join. 2-path counts at hub mids are
    still Sum(in*out) — fine while the graph broadcasts, superseded by
    ``_square_count_cn`` above the threshold.
    """
    fwdw = (
        g.select(F.col("src").alias("s"), F.col("dst").alias("t"))
        .where(F.col("s") < F.col("t"))
        .join(g.select(F.col("src").alias("t"), F.col("dst").alias("u")), "t")
        .where(F.col("s") < F.col("u"))
    )
    bwdw = (
        g.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(g.select(F.col("src").alias("v"), F.col("dst").alias("s")), "v")
        .where(F.col("s") < F.col("v"))
    )
    # The diagonal join's sides are equal-sized, so the planner keeps
    # sort-merge under preferSortMergeJoin=false (SHJ's muchSmaller
    # condition cannot hold — r13 receipt). Forcing shuffled-hash drops
    # both wedge sorts: measured 5/5 pairwise interleaved wins at sf0.1
    # (min 1.363 vs 1.508, medians 1.58 vs 1.84), identical count.
    # Scale-safe because this path only executes under the broadcast
    # ceiling (square_count_df's strategy gate), which bounds the wedge
    # relations the hash build partitions; AQE skew-join splitting
    # applies to SHJ as well. The CN path (the at-scale strategy) is
    # untouched.
    return (
        fwdw.join(bwdw.hint("shuffle_hash"), ["s", "u"])
        .where(F.col("t") < F.col("v"))
        .agg(F.count(F.lit(1)).alias("n_squares"))
    )


def _half_edges(pairs: DataFrame) -> DataFrame:
    """Directed view of the undirected support pairs: one row per
    (endpoint a, endpoint b) ordering, carrying ``ab``/``ba`` edge-
    existence flags (a->b / b->a) and both endpoint degrees."""
    deg = (
        pairs.select(F.col("lo").alias("v"))
        .unionAll(pairs.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    both = pairs.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"),
        F.col("fwd").alias("ab"), F.col("rev").alias("ba"),
    ).unionAll(
        pairs.select(
            F.col("hi").alias("a"), F.col("lo").alias("b"),
            F.col("rev").alias("ab"), F.col("fwd").alias("ba"),
        )
    )
    return (
        both.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    )


def cn_wedges(pairs: DataFrame) -> DataFrame:
    """The Chiba-Nishizeki wedge relation: rows (v, w, nb) where nb is
    the mid struct (u + the four direction flags) and v precedes both u
    and w in (degree DESC, id) order. |rows| <= sum over support pairs
    of min(deg(lo), deg(hi)) <= 2 * arboricity * m — the bound the
    scale probe measures directly (SCALE_PROBE.md wedge table)."""
    he = _half_edges(pairs)
    # rank(x) = (deg(x) DESC, x ASC); earlier == higher degree.
    earlier_ab = (F.col("da") > F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # left side: half-edges oriented earlier-endpoint -> mid (pushes the
    # rank(v) < rank(u) filter below the join: m rows, not 2m)
    lhs = he.where(earlier_ab).select(
        F.col("a").alias("v"), F.col("da").alias("dv"),
        F.col("b").alias("u"),
        F.col("ab").alias("f_vu"), F.col("ba").alias("f_uv"),
    )
    rhs = he.select(
        F.col("a").alias("u"), F.col("b").alias("w"), F.col("db").alias("dw"),
        F.col("ab").alias("f_uw"), F.col("ba").alias("f_wu"),
    )
    rank_v_before_w = (F.col("dv") > F.col("dw")) | (
        (F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))
    )
    return (
        lhs.join(rhs, "u")
        .where((F.col("v") != F.col("w")) & rank_v_before_w)
        .select(
            "v", "w",
            F.struct("u", "f_vu", "f_uv", "f_uw", "f_wu").alias("nb"),
        )
    )


def _square_count_cn_pairs(g: DataFrame) -> DataFrame:
    """Candidate-pair ENUMERATION form of the Chiba-Nishizeki square
    count — retained as the executable specification the windowed
    closed-form ``_square_count_cn`` is tested against (the two must
    agree on every graph; tests/test_graph.py). Production uses the
    windowed form: this one still enumerates C(|mids|, 2) candidate
    pairs per diagonal, which is output-scale work on hub diagonals
    (~8M streamed pair rows per 4k-mid hub diagonal at the probe's 8M
    skewed edges).

    Every 4-cycle is enumerated exactly once as a PAIR of wedges sharing
    the diagonal whose earlier endpoint is the cycle's earliest vertex
    in (degree DESC, id) order.

    Why this bounds the hub-mid blow-up: a wedge (v, u, w) — support
    pairs {v,u} and {u,w} — enters the relation only when the endpoint v
    precedes BOTH the mid u and the far endpoint w in the order. Per
    support pair {v,u} with v earlier that admits at most deg(u) wedges,
    so |wedges| <= sum over pairs of min(deg(lo), deg(hi)) <= 2*arboricity*m
    (Chiba-Nishizeki Lemma 2). A hub mid is enumerated only from its
    HIGHER-degree neighbors — the Sum(in*out) 2-path explosion at hub
    mids never happens, which is exactly the term that kills the
    diagonal-join plan on power-law graphs. Candidate square pairs are
    then generated per (v, w) group from the collected mid array
    (output-scale work), and the directed canonical predicate
    (s -> t -> u -> v -> s with s the id-minimum, t < v) is recovered
    from the per-pair direction flags the wedges carry — the same
    flag-replay trick the degree-ordered triangle path uses.

    Exactly-once argument: the square's earliest vertex e is an endpoint
    of the two wedges over diagonal (e, o); both mids and o follow e in
    the order, so both wedges qualify under key (v=e, w=o). On the other
    diagonal the mids include e itself, which precedes both endpoints,
    so those wedges are filtered — no double count.
    """
    pairs = memo.materialize(support_pairs(g), eager=True)
    grouped = cn_wedges(pairs).groupBy("v", "w").agg(
        F.collect_list("nb").alias("ns")
    )
    # Two-step explode: first the anchor mid (with its index), then the
    # suffix slice. A single flatten(transform(...)) would materialize
    # the ENTIRE C(|mids|, 2) pair array inside one row before exploding
    # — at 8M skewed edges a hub-pair diagonal holds ~4k common mids,
    # i.e. ~8M structs in one row's buffer (observed OOM). This form
    # keeps per-row memory O(|mids|) and streams the pairs.
    anchored = grouped.select(
        "v", "w", "ns", F.posexplode("ns").alias("i", "pa")
    )
    cand = anchored.select(
        "v", "w", "pa",
        F.explode(F.expr("slice(ns, i + 2, size(ns))")).alias("pb"),
    ).select(
        "v", "w",
        F.col("pa.u").alias("u1"),
        F.col("pa.f_vu").alias("f_vu1"), F.col("pa.f_uv").alias("f_u1v"),
        F.col("pa.f_uw").alias("f_u1w"), F.col("pa.f_wu").alias("f_wu1"),
        F.col("pb.u").alias("u2"),
        F.col("pb.f_vu").alias("f_vu2"), F.col("pb.f_uv").alias("f_u2v"),
        F.col("pb.f_uw").alias("f_u2w"), F.col("pb.f_wu").alias("f_wu2"),
    )
    V, W, U1, U2 = F.col("v"), F.col("w"), F.col("u1"), F.col("u2")

    def edge_dir(x: F.Column, y: F.Column) -> F.Column:
        """Does directed edge x->y exist? {x, y} is one of the four cycle
        pairs {v,u1},{u1,w},{w,u2},{u2,v}; replay the carried flags."""
        return (
            F.when((x == V) & (y == U1), F.col("f_vu1"))
            .when((x == U1) & (y == V), F.col("f_u1v"))
            .when((x == V) & (y == U2), F.col("f_vu2"))
            .when((x == U2) & (y == V), F.col("f_u2v"))
            .when((x == W) & (y == U1), F.col("f_wu1"))
            .when((x == U1) & (y == W), F.col("f_u1w"))
            .when((x == W) & (y == U2), F.col("f_wu2"))
            .otherwise(F.col("f_u2w"))
        )

    s = F.least(V, W, U1, U2)
    s_is_endpoint = (s == V) | (s == W)
    opp = (
        F.when(s == V, W).when(s == W, V).when(s == U1, U2).otherwise(U1)
    )
    nb1 = F.when(s_is_endpoint, U1).otherwise(V)
    nb2 = F.when(s_is_endpoint, U2).otherwise(W)
    t = F.least(nb1, nb2)
    vtx = F.greatest(nb1, nb2)
    # canonical directed square: s -> t -> opp -> vtx -> s with t < vtx
    pred = edge_dir(s, t) & edge_dir(t, opp) & edge_dir(opp, vtx) & edge_dir(vtx, s)
    return cand.where(pred).agg(F.count(F.lit(1)).alias("n_squares"))


def _square_count_cn(g: DataFrame) -> DataFrame:
    """Windowed closed-form Chiba-Nishizeki square count: O(W log W) in
    the wedge-relation size W <= 2*arboricity*m, with NO candidate-pair
    enumeration.

    Derivation (provably equivalent to ``_square_count_cn_pairs``, whose
    canonical predicate it algebraically collapses): fix a diagonal
    group (v, w) and let e_lo/e_hi = min/max(v, w) by id. A candidate
    square pairs two mids (u_i, u_j), i < j by id, and the canonical
    directed predicate (s -> t -> opp -> vtx -> s, s the id-minimum,
    t < vtx) splits into exactly two id-order cases:

    - s is an endpoint (u_i > e_lo, hence u_j > e_lo too): s = e_lo,
      t = u_i, opp = e_hi, vtx = u_j. The predicate factors per mid:
      A(u) = edge(e_lo -> u) AND edge(u -> e_hi)   [u as t]
      B(u) = edge(e_hi -> u) AND edge(u -> e_lo)   [u as vtx]
      and the pair contributes iff A(u_i) AND B(u_j).
    - s is a mid (u_i < e_lo): s = u_i, t = e_lo, opp = u_j,
      vtx = e_hi. Per-mid factors are THE SAME two predicates with
      roles swapped: the pair contributes iff B(u_i) AND A(u_j)
      (edge(u_i -> e_lo) AND edge(e_hi -> u_i) == B; edge(e_lo -> u_j)
      AND edge(u_j -> e_hi) == A).

    The cases partition all pairs (u_i != e_lo always), so per group

        n_squares = SUM_j [ B(j) * #{i<j : A(i), u_i > e_lo}
                          + A(j) * #{i<j : B(i), u_i < e_lo} ]

    — two running sums over the mids sorted by id, i.e. one window over
    the wedge relation partitioned by (v, w). 100 TB view: the shuffle
    is the SAME (v, w) shuffle the enumeration form paid for its
    groupBy, but the work after it is one sorted linear pass with O(1)
    state per group instead of C(|mids|, 2) generated pair rows — the
    hub-diagonal candidate blow-up (the residue the r5 probe measured at
    285 s / 48x on the 64M skewed cell) is gone entirely; output is the
    single count.
    """
    pairs = memo.materialize(support_pairs(g), eager=True)
    wdg = cn_wedges(pairs)
    is_v_lo = F.col("v") < F.col("w")
    e_lo = F.least("v", "w")
    f_lo_u = F.when(is_v_lo, F.col("nb.f_vu")).otherwise(F.col("nb.f_wu"))
    f_u_lo = F.when(is_v_lo, F.col("nb.f_uv")).otherwise(F.col("nb.f_uw"))
    f_hi_u = F.when(is_v_lo, F.col("nb.f_wu")).otherwise(F.col("nb.f_vu"))
    f_u_hi = F.when(is_v_lo, F.col("nb.f_uw")).otherwise(F.col("nb.f_uv"))
    flagged = wdg.select(
        "v", "w", F.col("nb.u").alias("u"),
        (f_lo_u & f_u_hi).cast("long").alias("a"),
        (f_hi_u & f_u_lo).cast("long").alias("b"),
        (F.col("nb.u") > e_lo).alias("gt"),
    )
    win = (
        Window.partitionBy("v", "w")
        .orderBy("u")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_a_gt = F.sum(F.when(F.col("gt"), F.col("a")).otherwise(F.lit(0))).over(win)
    cum_b_lt = F.sum(F.when(~F.col("gt"), F.col("b")).otherwise(F.lit(0))).over(win)
    contrib = (
        F.col("b") * F.coalesce(cum_a_gt, F.lit(0))
        + F.col("a") * F.coalesce(cum_b_lt, F.lit(0))
    )
    return flagged.select(contrib.alias("c")).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_squares")
    )


def square_count_df(g: DataFrame, cn_ordered: bool | None = None) -> DataFrame:
    """Count directed 4-cycles s->t->u->v->s with s < t,u,v and t < v.

    Strategy choice mirrors ``triangle_count_df``: under the conf-derived
    broadcast ceiling the wedge-diagonal join wins (pipelined codegen,
    no shuffle of wedges); above it the Chiba-Nishizeki wedge-pair
    enumeration bounds the hub-mid 2-path intermediate at
    O(arboricity * m) instead of Sum(in*out).
    """
    if cn_ordered is None:
        cn_ordered = pattern_degree_ordered(g)
    return _square_count_cn(g) if cn_ordered else _square_count_diagonal(g)


@query(
    "g4_square_count",
    oracle=_EDGES_SQL
    + """
    SELECT COUNT(*) AS n_squares
    FROM g a JOIN g b ON a.dst = b.src JOIN g c ON b.dst = c.src
             JOIN g d ON c.dst = d.src
    WHERE d.dst = a.src
      AND a.src < b.src AND a.src < c.src AND a.src < d.src AND b.src < d.src
    """,
)
def g4_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: 4-cycle (square) pattern with distinctness/canonicalization
    filters (SquareQueryPerformance.scala:72-80). Oracle keeps the naive
    4-way chain; the Spark plan joins two wedge relations on the cycle
    diagonal (``square_count_df``) so the 3-path intermediate never
    materializes."""
    return square_count_df(edge_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# g6: PageRank in fixed-point integer arithmetic
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000_000  # rank mass carried as picos of 1.0
_PR_ITERS = 3


def _pr_iter_sql(k: int) -> str:
    base = f"(({_PR_SCALE} * 3) // 20) // (SELECT n_nodes FROM cnt)"
    return f"""
    r{k} AS (
      SELECT n.node,
             CAST({base} + (17 * COALESCE(c.contrib, 0)) // 20 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT g.dst AS node, SUM(rr.r // dg.d) AS contrib
        FROM g JOIN r{k - 1} rr ON rr.node = g.src
               JOIN deg dg ON dg.src = g.src
        GROUP BY g.dst) c ON c.node = n.node)"""


_PR_ORACLE = (
    _EDGES_SQL
    + f""",
    nodes AS (SELECT src AS node FROM g UNION SELECT dst AS node FROM g),
    cnt AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    deg AS (SELECT src, COUNT(*) AS d FROM g GROUP BY src),
    r0 AS (SELECT node,
                  CAST({_PR_SCALE} // (SELECT n_nodes FROM cnt) AS BIGINT) AS r
           FROM nodes),"""
    + ",".join(_pr_iter_sql(k) for k in range(1, _PR_ITERS + 1))
    + f"""
    SELECT node, r AS rank_fp FROM r{_PR_ITERS}
    """
)


def pagerank_df(edges: DataFrame, n_iters: int = _PR_ITERS) -> DataFrame:
    """Fixed-point PageRank (damping 0.85 as the rational 17/20).

    Rank mass is carried as BIGINT picos of 1.0 and every step is integer
    arithmetic (``div``), so the iterate is bit-identical across engines,
    partitionings, and retries — which is what lets an ITERATIVE
    algorithm hash-verify against an unrolled-CTE SQL oracle (same trick
    as d6's label propagation and sim4's unrolled Lloyd steps).
    Float PageRank could never do that: double summation is
    order-dependent and engines add partitions in different orders.

    Scale shape: the edge relation is joined with out-degrees ONCE and
    reused every iteration; each iteration is one shuffle of the skinny
    (node, rank) relation onto the edge partitioning plus a partial
    aggregation of contributions by dst. Dangling-node mass decays (not
    redistributed) — documented, deterministic, identical in the oracle.
    At larger iteration counts, localCheckpoint the rank frame per
    iteration (as d6 does) to keep lineage flat.
    """
    # nodes and the degree-joined edge relation are consumed by EVERY
    # iteration; materialized once (r13) so the unrolled plan stops
    # re-deriving them per iteration and lineage stays flat — the d6
    # pattern this docstring always prescribed for higher iteration
    # counts. n_nodes is a positive scalar, so the teleport terms are
    # computed once in Python ints (// == SQL div on non-negatives) —
    # bit-identical to the previous per-row `div n_nodes` expressions.
    nodes = memo.materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        eager=False,
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # Empty edge frame: the pre-r13 in-plan form returned an empty
        # result here, while Python integer division on the driver-side
        # scalar would raise ZeroDivisionError (r13 ADVICE). Preserve
        # the original contract.
        return nodes.select("node", F.lit(0).cast("bigint").alias("rank_fp"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ed = memo.materialize(edges.join(deg, "src"), eager=False)
    teleport = ((_PR_SCALE * 3) // 20) // n_nodes
    r = nodes.select("node", F.lit(_PR_SCALE // n_nodes).alias("r"))
    for k in range(n_iters):
        contrib = (
            ed.join(r, F.col("src") == F.col("node"))
            .select(F.col("dst").alias("node"), F.expr("r div d").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        r = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.expr("(17 * coalesce(contrib, cast(0 as bigint))) div 20")
            ).alias("r"),
        )
        if k < n_iters - 1:
            r = memo.materialize(r, eager=False)
    return r.select("node", F.col("r").alias("rank_fp"))


@query("g6_pagerank", oracle=_PR_ORACLE)
def g6_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star graph extension beyond the reference's pattern counts:
    3-iteration PageRank over the shared deterministic edge table. See
    ``pagerank_df`` for why fixed-point arithmetic is what makes an
    iterative algorithm oracle-exact."""
    return pagerank_df(edge_table(spark, sf_dir))
