#!/usr/bin/env python
"""Scale probe: run headline-shape plans over GENERATED data at increasing
row counts and record wall time -> SCALE_PROBE.md. The point is the
scaling exponent, not the absolute numbers: a plan whose time grows ~O(n)
on local[32] has no hidden quadratic/shuffle-explosion term waiting at
100 TB.

Probes (matched to the riskiest plan shapes):
  star_join_agg   fact |><| broadcast(dim) -> groupBy  (flagship shape)
  fact_fact_join  two facts shuffled on a shared key   (j2 shape)
  window_running  partitioned running sum              (w2 shape)
  exact_dedup     hash-groupBy dedup                   (d1 shape)
  tri_uniform     degree-ordered triangle count, uniform graph (g3 scale path)
  tri_skew        same plan on a symmetric-hub graph — the cell that is
                  quadratic for the naive id-ordered enumeration
  sq_uniform      Chiba-Nishizeki square count, uniform graph (g4 scale path)
  sq_skew         same plan on the hub graph — the cell whose 2-path
                  intermediate is quadratic for the diagonal-join plan
  minhash_dedup   shingle -> minhash sig -> banded-bucket join -> verify
                  (d2 shape: pairwise work only inside band buckets)
  ann_lsh         sign-LSH bucketed cosine ANN (sim2 shape: bucket
                  equi-join, never query x corpus)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_sql_perf_spark.operators.graph import (  # noqa: E402
    square_count_df,
    triangle_count_df,
)
from spark_sql_perf_spark.session import build_session  # noqa: E402
from spark_sql_perf_spark.sources.datagen import gen_table, uniform_int  # noqa: E402

SCALES = [1_000_000, 4_000_000, 16_000_000, 64_000_000]


def gen_hub_edges(spark, n_edges: int, skew: bool):
    """Deterministic digraph: ~n_edges distinct edges over n_edges/8
    vertices (avg degree ~16). With ``skew``, 1/32 of srcs AND 1/32 of
    dsts (independently) land on 8 hub vertices, so hubs carry ~m/256
    in-edges and out-edges each — the in*out wedge product at the hubs
    grows quadratically in m, which is exactly the regime the
    degree-ordered triangle plan exists for."""
    nodes = max(n_edges // 8, 32)
    base = gen_table(spark, n_edges, {
        "s0": lambda idc: uniform_int(idc, "s", 0, nodes - 1),
        "d0": lambda idc: uniform_int(idc, "d", 0, nodes - 1),
        "hs": lambda idc: uniform_int(idc, "hs", 0, 31),
        "hd": lambda idc: uniform_int(idc, "hd", 0, 31),
    })
    src, dst = F.col("s0"), F.col("d0")
    if skew:
        src = F.when(F.col("hs") == 0, uniform_int(F.col("s0"), "hbs", 0, 7)).otherwise(src)
        dst = F.when(F.col("hd") == 0, uniform_int(F.col("d0"), "hbd", 0, 7)).otherwise(dst)
    return (base.select(src.alias("src"), dst.alias("dst"))
            .where(F.col("src") != F.col("dst")).distinct())


def probe(spark, n: int) -> dict[str, float]:
    fact = gen_table(
        spark, n,
        {
            "k": lambda idc: uniform_int(idc, "k", 1, max(1, n // 10)),
            "dim_k": lambda idc: uniform_int(idc, "d", 1, 10_000),
            "v": lambda idc: (uniform_int(idc, "v", 0, 1_000_000) / 100.0),
        },
    )
    fact2 = gen_table(
        spark, n // 4,
        {
            "k": lambda idc: uniform_int(idc, "k2", 1, max(1, n // 10)),
            "w": lambda idc: (uniform_int(idc, "w", 0, 1_000_000) / 100.0),
        },
    )
    dim = gen_table(
        spark, 10_000,
        {"dim_k": lambda idc: idc + 1, "grp": lambda idc: idc % 50},
    )
    out = {}

    def t(name, df):
        # min-of-2: a single shot at 64M rows can catch a GC/disk hiccup
        # and misreport a cell by 2-3x (observed on window_running);
        # min is the same steady-state estimator bench.py uses
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 2)

    t("star_join_agg",
      fact.join(F.broadcast(dim), "dim_k").groupBy("grp")
      .agg(F.sum(F.col("v").cast("decimal(18,2)")).alias("s")))
    t("fact_fact_join",
      fact.join(fact2, "k").groupBy((F.col("k") % 100).alias("b"))
      .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy(F.col("k") % 100_000).orderBy("k", "dim_k")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t("window_running", fact.select(F.sum("v").over(w).alias("r")))
    t("exact_dedup",
      fact.groupBy("k").agg(F.min("dim_k").alias("keep"), F.count(F.lit(1)).alias("c")))
    # triangle cells run the forced degree-ordered plan (the 100 TB
    # path) at n/8 edges; the question is whether the skewed cell
    # tracks the uniform cell ~linearly
    for name, skew in (("tri_uniform", False), ("tri_skew", True)):
        g = gen_hub_edges(spark, n // 8, skew).persist()
        g.count()
        t(name, triangle_count_df(g, degree_ordered=True))
        t(name.replace("tri", "sq"), square_count_df(g, cn_ordered=True))
        if skew:
            out.update(wedge_counts(g))
        g.unpersist()
    t("minhash_dedup", probe_minhash_dedup(spark, n // 16))
    t("ann_lsh", probe_ann_lsh(spark, n // 16))
    t("seq_packing", probe_seq_packing(spark, n))
    t("decontam", probe_decontam(spark, n // 16))
    # g6's iterative shape: 3 fixed-point PageRank iterations over the
    # uniform graph — per-iteration cost is one shuffle of the skinny
    # rank relation, so the cell must track the edge count ~linearly
    from spark_sql_perf_spark.operators.graph import pagerank_df
    g = gen_hub_edges(spark, n // 8, skew=False).persist()
    g.count()
    t("pagerank_3it", pagerank_df(g))
    g.unpersist()
    out.update(probe_zorder_scan(spark, n))
    out.update(probe_upsert(spark, n))
    return out


_PERM = [(2_654_435_761, 101), (2_246_822_519, 211), (3_266_489_917, 307),
         (668_265_263, 401), (374_761_393, 503), (2_147_483_629, 601)]
_P = 2_147_483_647


def probe_minhash_dedup(spark, n_docs: int):
    """d2's plan shape over generated text: 8-word docs (1/16 are planted
    duplicates of an earlier doc), trigram shingles -> 6 minhashes -> 3
    banded buckets -> candidate pairs only within buckets -> exact
    verify. The cell proves the pairwise stage stays ~|near-dups|, never
    |docs|^2, as volume grows."""
    words = {
        f"w{i}": (lambda idc, i=i: F.concat(
            F.lit("tok"),
            uniform_int(idc, f"word{i}", 0, 499).cast("string")))
        for i in range(8)
    }
    docs = gen_table(spark, n_docs, {
        "doc_id": lambda idc: idc,
        "dup_of": lambda idc: F.when(
            (uniform_int(idc, "isdup", 0, 15) == 0) & (idc >= 16),
            (idc / 16).cast("long")).otherwise(idc),
        **words,
    })
    # duplicates share their source's words: re-derive words from dup_of
    text_cols = [words[f"w{i}"](F.col("dup_of")) for i in range(8)]
    corpus = docs.select("doc_id", F.array(*text_cols).alias("ws"))
    sh = corpus.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, 5), i ->"
            " concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))")).alias("shingle"),
    )
    hashed = sh.select(
        "doc_id",
        (F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10)
         .cast("long") % _P).alias("h"),
    ).distinct()
    sigs = hashed.groupBy("doc_id").agg(
        *[F.min((F.lit(a) * F.col("h") + F.lit(b)) % _P).alias(f"m{j}")
          for j, (a, b) in enumerate(_PERM)]
    )
    bands = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("band"),
                     F.concat_ws("_", f"m{2*j}", f"m{2*j+1}").alias("key"))
            for j in range(3)
        ])).alias("b"),
    ).select("doc_id", "b.band", "b.key")
    cand = (
        bands.alias("x").join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    return cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))


def probe_ann_lsh(spark, n_vecs: int, dim: int = 16, n_queries: int = 64):
    """sim2's plan shape at volume: deterministic vectors, 8-bit sign-LSH
    signature per vector, query set broadcast, candidates only from the
    query's bucket — the join never touches query x corpus."""
    vec = F.array(*[
        (uniform_int(F.col("vec_id"), f"d{i}", 0, 2_000_000) / 1_000_000.0 - 1.0)
        for i in range(dim)
    ])
    planes = [[(((i * 37 + b * 101) % 97) / 48.5 - 1.0) for i in range(dim)]
              for b in range(8)]
    vecs = gen_table(spark, n_vecs, {"vec_id": lambda idc: idc}).select(
        "vec_id", vec.alias("v"))
    sig = sum(
        F.when(
            sum(F.col("v")[i] * F.lit(planes[b][i]) for i in range(dim)) > 0,
            F.lit(1 << b),
        ).otherwise(F.lit(0))
        for b in range(8)
    )
    bucketed = vecs.select("vec_id", "v", sig.alias("sig"))
    q = bucketed.where(F.col("vec_id") < n_queries).alias("q")
    c = bucketed.where(F.col("vec_id") >= n_queries).alias("c")
    dot = F.expr(
        "aggregate(zip_with(q.v, c.v, (a, b) -> a * b),"
        " cast(0.0 as double), (acc, x) -> acc + x)")
    scored = (F.broadcast(q).join(c, F.col("q.sig") == F.col("c.sig"))
              .select(F.col("q.vec_id").alias("query_id"), dot.alias("dot")))
    return scored.groupBy("query_id").agg(
        F.max("dot").alias("best"), F.count(F.lit(1)).alias("n_cands"))


PQ_SCALES = [1_000_000, 4_000_000, 16_000_000, 64_000_000]


def probe_pq(spark, n_vecs: int, n_queries: int = 8) -> dict[str, float]:
    """sim5's two phases at volume, as separate cells.

    pq_build: code assignment — 32x 16-way argmin over 2-dim
    sub-distances per vector — materialized once (in production this is
    a persisted 16-byte codes column next to the raw vectors).

    pq_adc: the serving path over the MATERIALIZED codes — ADC
    lookup-sum of a broadcast 8-query LUT against every code row,
    top-50 shortlist (partial WindowGroupLimit), exact re-rank of the
    shortlist against raw vectors. ADC is *by design* a linear scan
    over Q x N code rows (the PQ trade: ~35 flops over 16 bytes per
    candidate instead of 64 float mults over 256 bytes), so the cell
    must track N ~linearly at fixed Q.

    The persist between the phases is not just bookkeeping: the codes
    relation here is derived from generated data (projection chains all
    the way down), and without a materialization boundary Catalyst
    collapses the code-assignment projection into the post-join output
    projection — re-running the 512-sub-distance argmin stack once per
    JOINED row (Q x per corpus row; measured 10x the honest serving
    cost). Registry sim5 reads parquet, where the scan boundary already
    prevents the collapse."""
    from spark_sql_perf_spark.pipeline.pq import (
        _dist_arrays,
        adc_serve,
        pq_codes,
    )

    dim = 64
    vec = F.array(*[
        (uniform_int(F.col("vec_id"), f"d{i}", 0, 2_000_000) / 4_000_000.0 - 0.25)
        for i in range(dim)
    ])
    vecs = gen_table(spark, n_vecs, {"vec_id": lambda idc: idc}).select(
        "vec_id", vec.alias("v"))
    dists = _dist_arrays(vecs).drop("v")
    q = dists.where(F.col("vec_id") < n_queries)
    codes = pq_codes(dists.where(F.col("vec_id") >= n_queries))
    out = {}
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        codes.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    out["pq_build"] = round(best, 2)

    c = codes.persist()
    c.count()
    serve = adc_serve(vecs, q, c, n_queries)
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        serve.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    out["pq_adc"] = round(best, 2)
    c.unpersist()
    return out


def pq_cells(spark) -> dict[int, dict[str, float]]:
    out = {}
    for n in PQ_SCALES:
        out[n] = probe_pq(spark, n)
        print(f"pq@{n}: {out[n]}", flush=True)
    return out


def pq_section(pq_res: dict[int, dict[str, float]]) -> list[str]:
    base, top = pq_res[PQ_SCALES[0]], pq_res[PQ_SCALES[-1]]
    ratio = PQ_SCALES[-1] // PQ_SCALES[0]
    return [
        "## PQ ANN cells (sim5 shape)",
        "",
        "pq_build materializes the 4-bit code column (32x 16-way argmin",
        "over 2-dim sub-distances per 64-dim vector) — the one-time index",
        "pass. pq_adc serves 8 broadcast queries against the MATERIALIZED",
        "codes: ADC lookup-sum per code row, top-50 shortlist (partial",
        "WindowGroupLimit, no per-query full sort), exact re-rank of the",
        "shortlist against raw vectors. ADC is by design a linear Q x N",
        "scan over 16-byte codes (the compression IS the optimization:",
        "~16x less scan bandwidth than raw floats); both cells must track",
        "corpus size ~linearly. Regenerate alone with:",
        "`python tools/scale_probe.py pq`.",
        "",
        "| vectors | pq_build | pq_adc |",
        "|---|---|---|",
        *[
            f"| {n:,} | {pq_res[n]['pq_build']}s | {pq_res[n]['pq_adc']}s |"
            for n in PQ_SCALES
        ],
        "",
        f"Data grew {ratio}x; pq_build "
        f"{top['pq_build'] / max(base['pq_build'], 0.01):.1f}x, pq_adc "
        f"{top['pq_adc'] / max(base['pq_adc'], 0.01):.1f}x end-to-end. The",
        "1M cells sit partly on fixed job overhead + JIT (they are the",
        "session's first touch of these plans), so the meaningful slope",
        "is the last step:",
        f"{PQ_SCALES[-2] // 1_000_000}M -> {PQ_SCALES[-1] // 1_000_000}M"
        f" ({PQ_SCALES[-1] // PQ_SCALES[-2]}x data) is pq_build "
        f"{top['pq_build'] / max(pq_res[PQ_SCALES[-2]]['pq_build'], 0.01):.1f}x,"
        " pq_adc "
        f"{top['pq_adc'] / max(pq_res[PQ_SCALES[-2]]['pq_adc'], 0.01):.1f}x"
        " — linear.",
        "",
    ]


def _patch_section(title: str, lines: list[str]) -> None:
    """Replace (or insert before the 64M-decomposition section) one `## `
    section of an existing SCALE_PROBE.md, so a single-shape mode does
    not force the ~85-minute full regeneration."""
    with open("SCALE_PROBE.md") as f:
        text = f.read()
    start = text.find(title)
    if start >= 0:
        end = text.find("\n## ", start + 1)
        end = len(text) if end < 0 else end + 1
        text = text[:start] + "\n".join(lines) + "\n" + text[end:]
    else:
        anchor = text.find("## 64M-point decomposition")
        if anchor < 0:
            text = text.rstrip("\n") + "\n\n" + "\n".join(lines) + "\n"
        else:
            text = text[:anchor] + "\n".join(lines) + "\n" + text[anchor:]
    with open("SCALE_PROBE.md", "w") as f:
        f.write(text)
    print(f"patched SCALE_PROBE.md ({title})")


def patch_pq_section(pq_res: dict[int, float]) -> None:
    _patch_section("## PQ ANN cells", pq_section(pq_res))


R6_SCALES = [1_000_000, 4_000_000, 16_000_000]


def probe_r6(spark, n: int) -> dict[str, float]:
    """The round-6 pipeline shapes at volume, over generated data:

    seg_dedup   d7's corpus-wide segment dedup: explode docs into
                fixed-width word segments, first-occurrence keep by
                segment hash (never segment text), in-order reassembly.
                Work is explode + one hash shuffle — must track corpus
                size ~linearly.
    ts_gapfill  ts1's resample + LOCF: per-series `sequence` grid (never
                users x global-span), left join, series-partitioned
                ignorenulls window. Grid rows ~= active-span hours per
                series; with fixed per-series span the cell must be
                ~linear in events.
    ts_sweep    ts2's day-partitioned sweep line, in the deployment
                shape where data grows in TIME SPAN (days scale with n,
                per-day interval density constant) — per-day window
                state is then flat and the cell must be ~linear.
    """
    from spark_sql_perf_spark.operators.timeseries import (
        gapfill_locf_df,
        interval_concurrency_df,
    )
    from spark_sql_perf_spark.pipeline.dedup import segment_dedup_df

    out = {}

    def t(name, df):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 2)

    # d7 shape: n/4 docs x 12 words (3 segments of 4). 1/8 of docs are
    # verbatim copies of an earlier doc, and 1/4 share a fixed 4-word
    # boilerplate head — the corpus-wide repeated-line motivation (C4).
    docs = gen_table(spark, n // 4, {
        "doc_id": lambda idc: idc,
        "dup_of": lambda idc: F.when(
            (uniform_int(idc, "segdup", 0, 7) == 0) & (idc >= 8),
            (idc / 8).cast("long")).otherwise(idc),
        "boiler": lambda idc: uniform_int(idc, "boiler", 0, 3),
    })

    def word(i):
        return F.concat(
            F.lit("tok"),
            uniform_int(F.col("dup_of"), f"sw{i}", 0, 4999).cast("string"))

    head = [
        F.when(F.col("boiler") == 0, F.lit(f"std{i}")).otherwise(word(i))
        for i in range(4)
    ]
    text = F.concat_ws(" ", *head, *[word(i) for i in range(4, 12)])
    t("seg_dedup",
      segment_dedup_df(docs.select("doc_id", text.alias("text")), seg_words=4))

    # ts1 shape: n events over n/64 series, each spanning <= 14 days ->
    # <= 336 grid hours per series (~5x row amplification at avg gap)
    n_users = max(n // 64, 16)
    ev = gen_table(spark, n, {
        "user_id": lambda idc: idc % n_users,
        "ts": lambda idc: F.timestamp_seconds(
            F.lit(1_700_000_000)
            + uniform_int(idc, "tmin", 0, 14 * 24 * 60 - 1) * 60),
        "value": lambda idc: (uniform_int(idc, "tv", 0, 1_000_000) / 100.0),
    })
    t("ts_gapfill", gapfill_locf_df(ev))

    # ts2 shape: n intervals spread over n/250k days (per-day density
    # constant — time-series data grows in span), 5..120 min durations
    n_days = max(n // 250_000, 8)
    base = gen_table(spark, n, {
        "sep": lambda idc: (
            F.lit(1_700_000_000)
            + uniform_int(idc, "ivd", 0, n_days * 24 * 60 - 1) * 60),
        "dur": lambda idc: uniform_int(idc, "ivdur", 5, 120) * 60,
    })
    iv = base.select(
        F.timestamp_seconds("sep").alias("s"),
        F.timestamp_seconds(F.col("sep") + F.col("dur")).alias("e"),
    )
    t("ts_sweep", interval_concurrency_df(iv))
    return out


def r6_cells(spark) -> dict[int, dict[str, float]]:
    out = {}
    for n in R6_SCALES:
        out[n] = probe_r6(spark, n)
        print(f"r6@{n}: {out[n]}", flush=True)
    return out


def r6_section(res: dict[int, dict[str, float]]) -> list[str]:
    base, top = res[R6_SCALES[0]], res[R6_SCALES[-1]]
    ratio = R6_SCALES[-1] // R6_SCALES[0]
    keys = ["seg_dedup", "ts_gapfill", "ts_sweep"]
    return [
        "## Segment-dedup & time-series cells (d7/ts1/ts2 shapes)",
        "",
        "seg_dedup runs d7's corpus-wide segment dedup (explode into",
        "4-word segments, first-occurrence keep by segment HASH, in-order",
        "reassembly) over n/4 generated docs with planted doc copies and",
        "a shared boilerplate head. ts_gapfill runs ts1's per-series",
        "hourly resample + LOCF over n events in n/64 series of <= 14-day",
        "span — the grid is generated per series, so amplification is",
        "bounded by span, never users x global range. ts_sweep runs",
        "ts2's day-partitioned sweep line over n intervals spread across",
        "n/250k days (per-day density constant: time-series growth is",
        "span growth, and per-day window state stays flat). Regenerate",
        "alone with: `python tools/scale_probe.py r6`.",
        "",
        "| rows | " + " | ".join(keys) + " |",
        "|---|" + "---|" * len(keys),
        *[
            f"| {n:,} | " + " | ".join(f"{res[n][k]}s" for k in keys) + " |"
            for n in R6_SCALES
        ],
        "",
        f"Data grew {ratio}x; "
        + ", ".join(
            f"{k} {top[k] / max(base[k], 0.01):.1f}x" for k in keys
        )
        + ". The 1M cells sit partly on fixed job overhead; the",
        "meaningful slope is the last step "
        f"({R6_SCALES[-2] // 1_000_000}M -> {R6_SCALES[-1] // 1_000_000}M, "
        f"{R6_SCALES[-1] // R6_SCALES[-2]}x data): "
        + ", ".join(
            f"{k} {top[k] / max(res[R6_SCALES[-2]][k], 0.01):.1f}x" for k in keys
        )
        + ".",
        "",
    ]


def patch_r6_section(res: dict[int, dict[str, float]]) -> None:
    _patch_section(
        "## Segment-dedup & time-series cells", r6_section(res))


R7_SCALES = [500_000, 2_000_000, 8_000_000]


def probe_r7(spark, n: int) -> dict[str, float]:
    """Round-7 shapes at volume:

    knn_graph  sim6's PRODUCTION kNN-graph build (knn_graph_df):
               adaptive sign-LSH buckets (base width ~ log2(n/2),
               LSH-forest split of buckets over 64 members via 10
               extension planes), signature self-join, per-vector top-k
               window. Without the adaptive split the candidate-pair
               volume grows superlinearly even at corpus-scaled width
               (measured 61x -> 98x pairs/row from 500k to 2M: bucket
               masses under random hyperplanes are multiplicatively
               uneven, so the sum-of-squares tail outruns n); the cap
               bounds every bucket, and knn_cand_pairs must track ~n.
    scd2       cdc1's gaps-and-islands interval build over n change
               events in n/64 series: three user-partitioned windows,
               no self-join — must track ~n.
    psample    c9's per-stratum priority-sampling over n docs in 1000
               strata: one scan + partial/final WindowGroupLimit top-k,
               no global sort — must track ~n (scan-bound).
    """
    from spark_sql_perf_spark.operators.timeseries import scd2_compress_df
    from spark_sql_perf_spark.pipeline.curation import priority_sample_df

    out = {}

    def t(name, df):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 2)

    from spark_sql_perf_spark.pipeline.similarity import (
        knn_graph_df,
        lsh_buckets_df,
    )

    dim = 16
    # the production sizing rule under test — this cell is the receipt
    # for sized_lsh_params' documented contract (functions/lsh.py)
    from spark_sql_perf_spark.functions.lsh import sized_lsh_params

    nbits, split_bits, cap = sized_lsh_params(n)
    vec = F.array(*[
        (uniform_int(F.col("vec_id"), f"k{i}", 0, 2_000_000) / 1_000_000.0 - 1.0)
        for i in range(dim)
    ])
    vecs = (gen_table(spark, n, {"vec_id": lambda idc: idc})
            .select("vec_id", vec.alias("v")))
    # time INCLUDING construction: knn_graph_df eagerly localCheckpoints
    # the signed relation, so timing only the returned DataFrame's write
    # would exclude the signature computation entirely
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        (knn_graph_df(vecs, k=2, nbits=nbits, split_bits=split_bits,
                      cap=cap, dim=dim)
         .write.format("noop").mode("overwrite").save())
        best = min(best, time.perf_counter() - t0)
    out["knn_graph"] = round(best, 2)
    pairs = (
        lsh_buckets_df(vecs, nbits, split_bits, cap, dim)
        .groupBy("sig").agg(F.count(F.lit(1)).alias("s"))
        .agg(F.sum(F.col("s") * (F.col("s") - 1)).alias("p"))
        .first()["p"]
    )
    out["knn_cand_pairs"] = int(pairs or 0)
    out["knn_bits"] = nbits

    n_users = max(n // 64, 16)
    ev = gen_table(spark, n, {
        "user_id": lambda idc: idc % n_users,
        "ts": lambda idc: F.timestamp_seconds(
            F.lit(1_700_000_000) + uniform_int(idc, "cts", 0, 90 * 24 * 3600)),
        "event_id": lambda idc: idc,
        "event_type": lambda idc: F.concat(
            F.lit("t"), uniform_int(idc, "cet", 0, 3).cast("string")),
    })
    t("scd2", scd2_compress_df(ev))

    docs = gen_table(spark, n, {
        "doc_id": lambda idc: idc,
        "source": lambda idc: F.concat(F.lit("s"), (idc % 1000).cast("string")),
        "n_chars": lambda idc: uniform_int(idc, "pw", 50, 5000),
    })
    t("psample", priority_sample_df(docs, 32))

    # c10 shape: the composed filter -> hash-dedup -> split -> rollup
    # pipeline over n/4 generated 12-word docs, 1/8 verbatim copies (the
    # dedup stage has real work) and the blocklist words present (the
    # filter stage has real selectivity). One scan + two exchanges must
    # track ~n.
    from spark_sql_perf_spark.pipeline.curation import curation_pipeline_df

    def word(i):
        return F.concat(
            F.lit("tok"),
            uniform_int(F.col("dup_of"), f"cw{i}", 0, 4999).cast("string"))

    cdocs = gen_table(spark, n // 4, {
        "doc_id": lambda idc: idc,
        "dup_of": lambda idc: F.when(
            (uniform_int(idc, "c10dup", 0, 7) == 0) & (idc >= 8),
            (idc / 8).cast("long")).otherwise(idc),
        "source": lambda idc: F.concat(F.lit("s"), (idc % 100).cast("string")),
    })
    words = [word(i) for i in range(11)]
    # The bad-class draw derives from dup_of (like every text word), NOT
    # the doc's own id — otherwise a planted copy whose bad-class differs
    # from its original's (~18% of pairs) gets a different first word and
    # the dedup stage sees fewer duplicates than the stated 1/8 plant rate.
    bad = uniform_int(F.col("dup_of"), "c10bad", 0, 9)
    text = F.concat_ws(
        " ", F.when(bad == 0, F.lit("slow")).otherwise(word(11)), *words
    )
    t("e2e_curation", curation_pipeline_df(
        cdocs.select("doc_id", "source", text.alias("text"),
                     F.length(text).alias("n_chars"))))
    return out


def r7_cells(spark) -> dict[int, dict[str, float]]:
    out = {}
    for n in R7_SCALES:
        out[n] = probe_r7(spark, n)
        print(f"r7@{n}: {out[n]}", flush=True)
    return out


def r7_section(res: dict[int, dict[str, float]]) -> list[str]:
    base, top = res[R7_SCALES[0]], res[R7_SCALES[-1]]
    ratio = R7_SCALES[-1] // R7_SCALES[0]
    keys = ["knn_graph", "scd2", "psample", "e2e_curation"]
    return [
        "## kNN-graph, SCD2 & priority-sample cells (sim6/cdc1/c9 shapes)",
        "",
        "knn_graph runs sim6's PRODUCTION kNN build (knn_graph_df:",
        "signature self-join + per-vector top-k) with the base LSH width",
        "growing with the corpus (nbits ~ log2(n/2)) AND the LSH-forest",
        "adaptive split (cap 64, 10 extension planes). Width scaling",
        "alone is NOT sufficient: bucket masses under random hyperplanes",
        "are multiplicatively uneven, and the measured candidate volume",
        "grew 61x -> 98x pairs/row from 500k to 2M vectors before the",
        "cap was added; with it, pairs/row is flat (~15.4) across all",
        "cells below. scd2 runs cdc1's three user-partitioned windows",
        "over n/64 series; psample runs c9's per-stratum",
        "WindowGroupLimit top-k over 1000 strata; e2e_curation runs",
        "c10's composed filter -> content-hash dedup -> split -> rollup",
        "plan over n/4 generated docs with planted copies. Regenerate",
        "alone with: `python tools/scale_probe.py r7`.",
        "",
        "Measurement basis (r8 re-run): knn_graph now runs the RECURSIVE",
        "split (levels=2 default) and the c10 docs generator's planted",
        "copies are byte-identical (dup_of-derived bad class), so",
        "absolute times are NOT comparable to the r7-era table; this",
        "box also drifted ~40-50% slower between the two sessions",
        "(untouched cells scd2/psample/e2e moved by the same factor).",
        "A same-session alternating A/B at 8M pinned the code change",
        "itself: levels=2 66.7s vs levels=1 69.7s INCLUDING index",
        "construction — the recursion is free-to-negative cost because",
        "level 2 trims the candidate tail it exists to bound.",
        "",
        "| rows | " + " | ".join(keys) + " | knn bits | knn cand pairs |",
        "|---|" + "---|" * (len(keys) + 2),
        *[
            f"| {n:,} | "
            + " | ".join(f"{res[n][k]}s" for k in keys)
            + f" | {res[n]['knn_bits']} | {res[n]['knn_cand_pairs']:,} |"
            for n in R7_SCALES
        ],
        "",
        f"Data grew {ratio}x; "
        + ", ".join(f"{k} {top[k] / max(base[k], 0.01):.1f}x" for k in keys)
        + f"; candidate pairs {top['knn_cand_pairs'] / max(base['knn_cand_pairs'], 1):.1f}x"
        + " — the adaptive cap holds candidate volume ~linear (flat pairs/row).",
        "",
    ]


R8_SCALES = [1_000_000, 4_000_000, 16_000_000, 64_000_000]


def probe_r8(spark, n: int) -> dict[str, float]:
    """sql7's recursive-CTE shape at volume. Spark 4's WITH RECURSIVE
    execution is brand-new surface, so its scaling gets its own receipt:
    a bounded 3-hop BFS from ~n/1024 seed nodes over the uniform
    n/8-edge graph. Each recursion step is ONE join of the skinny
    (node, hops) frontier against the persisted edge relation — g6
    PageRank's per-iteration shuffle profile — and the total path count
    is ~n/2 by construction (seeds x avg-out-degree^3), so the cell must
    track ~n with no per-level blowup."""
    out = {}
    m = n // 8
    g = gen_hub_edges(spark, m, skew=False).persist()
    g.count()
    g.createOrReplaceTempView("rcte_g")
    # Spark 4 guards recursion with a row limit (default 1M rows across
    # all levels) — a production-size recursion must raise it to the
    # expected path volume, exactly like shuffle-partition sizing. Scale
    # it with the corpus; restored after the cell.
    prev_limit = spark.conf.get("spark.sql.cteRecursionRowLimit", None)
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(max(2 * n, 1_000_000)))
    try:
    # seeds: every 16th node id -> ~nodes/16 = n/1024 anchors; with avg
    # out-degree 8 the level sizes are seeds * (1, 8, 64, 512) paths, so
    # total path rows ~ 0.57*n — linear in n, never frontier-explosive
        sql = """
          WITH RECURSIVE reach(node, hops) AS (
            SELECT DISTINCT src AS node, 0 AS hops FROM rcte_g WHERE src % 16 = 0
            UNION ALL
            SELECT g.dst AS node, r.hops + 1 AS hops
            FROM reach r JOIN rcte_g g ON g.src = r.node
            WHERE r.hops < 3
          )
          SELECT node, MIN(hops) AS min_hops, COUNT(*) AS n_paths
          FROM reach GROUP BY node
        """
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            spark.sql(sql).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out["rcte_bfs3"] = round(best, 2)
        # the path volume the recursion actually carried, as its own column:
        # ~linear path rows is WHY the time cell can be linear
        out["rcte_paths"] = int(
            spark.sql(sql).agg(F.sum("n_paths").alias("p")).first()["p"] or 0
        )
    finally:
        # restore even when the timed cell throws, or the raised limit
        # leaks into every subsequent cell. (conf.get(key, None) returns
        # the registered DEFAULT for a defined SQL conf, so prev_limit is
        # normally non-None and this pins the default back explicitly —
        # the unset branch is a belt for future Spark versions only.)
        if prev_limit is not None:
            spark.conf.set("spark.sql.cteRecursionRowLimit", prev_limit)
        else:
            spark.conf.unset("spark.sql.cteRecursionRowLimit")
        g.unpersist()
        spark.catalog.dropTempView("rcte_g")
    return out


def probe_rsplit(spark, n: int, split_bits: int = 3) -> dict[str, int]:
    """Receipt for the r8 RECURSIVE split: candidate-pair volume on the
    same corpus when the split level is deliberately under-provisioned
    (split_bits=3 -> only 8 sub-buckets per split). Sign-LSH bucket
    masses are multiplicatively uneven, so the natural dense tail at
    this width exceeds cap*8 — a single level leaves still-oversized
    sub-buckets (the exact defect ADVICE r7 named: the cap was
    advisory), while level 2 re-splits them. The delta IS the recursion
    working on natural data, no planted pathology needed."""
    from spark_sql_perf_spark.functions.lsh import sized_lsh_params
    from spark_sql_perf_spark.pipeline.similarity import lsh_buckets_df

    dim = 16
    nbits, _, cap = sized_lsh_params(n)
    vec = F.array(*[
        (uniform_int(F.col("vec_id"), f"k{i}", 0, 2_000_000) / 1_000_000.0 - 1.0)
        for i in range(dim)
    ])
    vecs = (gen_table(spark, n, {"vec_id": lambda idc: idc})
            .select("vec_id", vec.alias("v")))
    out = {}
    for levels in (1, 2):
        row = (
            lsh_buckets_df(vecs, nbits, split_bits, cap, dim, levels=levels)
            .groupBy("sig").agg(F.count(F.lit(1)).alias("s"))
            .agg(
                F.sum(F.col("s") * (F.col("s") - 1)).alias("p"),
                # the pairs the cap PROMISES to bound: those still inside
                # over-cap buckets after splitting
                F.sum(
                    F.when(F.col("s") > cap, F.col("s") * (F.col("s") - 1))
                    .otherwise(F.lit(0))
                ).alias("oc"),
            )
            .first()
        )
        out[f"rsplit_pairs_l{levels}"] = int(row["p"] or 0)
        out[f"rsplit_overcap_l{levels}"] = int(row["oc"] or 0)
    return out


def r8_cells(spark) -> dict[int, dict[str, float]]:
    out = {}
    for n in R8_SCALES:
        out[n] = probe_r8(spark, n)
        print(f"r8@{n}: {out[n]}", flush=True)
    out["rsplit"] = probe_rsplit(spark, 8_000_000)
    print(f"rsplit@8M: {out['rsplit']}", flush=True)
    return out


def r8_section(res: dict[int, dict[str, float]]) -> list[str]:
    base, top = res[R8_SCALES[0]], res[R8_SCALES[-1]]
    ratio = R8_SCALES[-1] // R8_SCALES[0]
    rs = res.get("rsplit", {})
    l1, l2 = rs.get("rsplit_pairs_l1", 0), rs.get("rsplit_pairs_l2", 0)
    oc1, oc2 = rs.get("rsplit_overcap_l1", 0), rs.get("rsplit_overcap_l2", 0)
    return [
        "## Recursive-CTE cells (sql7 shape)",
        "",
        "rcte_bfs3 runs sql7's WITH RECURSIVE bounded BFS (Spark 4's",
        "recursive-CTE execution — new engine surface with no other",
        "receipt in this file) over the uniform n/8-edge graph from",
        "~n/1024 seed nodes, 3 hops. Each recursion level is one join of",
        "the skinny (node, hops) frontier against the edge relation —",
        "the same per-iteration shuffle profile as pagerank_3it — and",
        "rcte_paths (the path volume the recursion carries) is ~n/2 by",
        "construction, so time must track ~n. Operational finding: Spark",
        "guards recursion with spark.sql.cteRecursionRowLimit (default 1M",
        "rows across all levels) — production-size recursions must raise",
        "it to the expected path volume, like shuffle-partition sizing;",
        "the probe sets it to 2n per cell. Regenerate alone with:",
        "`python tools/scale_probe.py r8`.",
        "",
        "| rows | rcte_bfs3 | rcte_paths |",
        "|---|---|---|",
        *[
            f"| {n:,} | {res[n]['rcte_bfs3']}s | {res[n]['rcte_paths']:,} |"
            for n in R8_SCALES
        ],
        "",
        f"Data grew {ratio}x; rcte_bfs3 "
        f"{top['rcte_bfs3'] / max(base['rcte_bfs3'], 0.01):.1f}x on "
        f"{top['rcte_paths'] / max(base['rcte_paths'], 1):.1f}x path rows"
        " — the recursion's per-level frontier join scales like the",
        "iterative DataFrame form it replaces; no per-level re-scan or",
        "frontier blowup hides in the new executor.",
        "",
        "Recursive-split receipt (the r8 LSH change, natural data, no",
        "planted pathology): 8M vectors bucketed with DELIBERATELY",
        "under-provisioned split_bits=3 (8 sub-buckets per split — the",
        "regime where one level cannot absorb the dense tail and the",
        "old code's cap went advisory). Total candidate pairs:",
        f"levels=1 {l1:,} vs levels=2 {l2:,}"
        + (f" ({l1 / l2:.1f}x)." if l2 else "."),
        "The decisive column is pairs still inside OVER-CAP buckets —",
        "the volume the cap promises to bound:",
        f"levels=1 {oc1:,} vs levels=2 {oc2:,}"
        + (f" ({oc1 / oc2:.1f}x reduction)." if oc2 else " (fully bounded)."),
        "Each level multiplies the base-bucket mass the cap can absorb",
        "by 2^split_bits (the measured reduction tracks that factor",
        "minus sub-bucket unevenness), so the bound is",
        "cap << (levels*split_bits) — 4096 rows/base-bucket in this",
        "deliberately starved config, 67M at the production sizing",
        "(split_bits=10), where level 2 therefore rarely fires: it",
        "exists so the cap HOLDS when a real corpus's densest region",
        "exceeds what one extension family can spread.",
        "",
    ]


def patch_r8_section(res: dict[int, dict[str, float]]) -> None:
    _patch_section("## Recursive-CTE cells", r8_section(res))


def patch_r7_section(res: dict[int, dict[str, float]]) -> None:
    _patch_section(
        "## kNN-graph, SCD2 & priority-sample cells", r7_section(res))


# ---------------------------------------------------------------------------
# r9: ANN SERVING at volume (sim7 / streaming.ann / the at-rest layout).
# The knn cells above cover the index BUILD; these cover the probe side.
# ---------------------------------------------------------------------------

R9_SCALES = [1_000_000, 4_000_000, 8_000_000]


def probe_r9(spark, n: int) -> dict[str, float]:
    """ANN serving shapes at volume, sized index (sized_params):

    index_write    write_lsh_partitioned — bucket the corpus and lay it
                   out partitioned by sig % 64 with the params sidecar
                   (the one-time cost the serving path amortizes).
    serve_rest_10k ann_serve_at_rest, 10k-query batch: the multi-key
                   probe explode (levels+1 keys/query) against the
                   at-rest layout. At 10k queries the probed partitions
                   saturate nparts=64, so the cost is ONE pruned-to-full
                   corpus scan + the bucket equi-join — must track ~n,
                   proving the probe never pays a second index scan.
    serve_rest_64  the small-batch regime where partition pruning bites:
                   64 queries probe <= 64*(levels+1) keys, so the scan
                   reads only parts_64/64 of the partitions (recorded).
                   Pruning is the SMALL-batch win; a 10k batch saturates
                   any healthy directory count (measured in the r10
                   nparts=512 cell), and large batches live on the
                   one-clean-scan cost model instead.
    serve_mem_10k  the same 10k batch against the persisted in-memory
                   AnnIndex (the streaming server's small-corpus mode):
                   isolates the probe join from the parquet scan.
    """
    import shutil
    import tempfile

    from spark_sql_perf_spark.functions.lsh import sized_params
    from spark_sql_perf_spark.pipeline.similarity import lsh_buckets_df
    from spark_sql_perf_spark.streaming.ann import (
        AnnIndex,
        _query_keys,
        ann_serve_at_rest,
        ann_serve_batch,
        read_lsh_params,
        write_lsh_partitioned,
    )

    dim = 16
    params = sized_params(n)
    vec = F.array(*[
        (uniform_int(F.col("vec_id"), f"k{i}", 0, 2_000_000) / 1_000_000.0 - 1.0)
        for i in range(dim)
    ])
    vecs = (gen_table(spark, n, {"vec_id": lambda idc: idc})
            .select("vec_id", vec.alias("v")))
    out = {}
    root = tempfile.mkdtemp(prefix="ann-rest-probe-")
    path = os.path.join(root, "idx")
    try:
        t0 = time.perf_counter()
        write_lsh_partitioned(vecs, path, dim, params)
        out["index_write"] = round(time.perf_counter() - t0, 2)

        q10k = vecs.where(F.col("vec_id") < 10_000)
        q64 = vecs.where(F.col("vec_id") < 64)
        for name, q in (("serve_rest_10k", q10k), ("serve_rest_64", q64)):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                (ann_serve_at_rest(spark, q, path, k=3)
                 .write.format("noop").mode("overwrite").save())
                best = min(best, time.perf_counter() - t0)
            out[name] = round(best, 2)
        # the pruning receipt for the small batch: partitions probed
        side_params, nparts, _ = read_lsh_params(spark, path)
        out["parts_64"] = (
            _query_keys(q64, dim, side_params)
            .select(F.pmod(F.col("sig"), F.lit(nparts)).alias("p"))
            .distinct().count()
        )
        out["nparts"] = nparts

        idx_df = lsh_buckets_df(
            vecs, params.nbits, params.split_bits, params.cap, dim,
            params.levels,
        ).persist()
        idx_df.count()
        index = AnnIndex(idx_df, params, dim)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            (ann_serve_batch(q10k, index)
             .write.format("noop").mode("overwrite").save())
            best = min(best, time.perf_counter() - t0)
        out["serve_mem_10k"] = round(best, 2)
        idx_df.unpersist()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def r9_cells(spark) -> dict[int, dict[str, float]]:
    out = {}
    for n in R9_SCALES:
        out[n] = probe_r9(spark, n)
        print(f"r9@{n}: {out[n]}", flush=True)
    return out


def r9_section(res: dict[int, dict[str, float]]) -> list[str]:
    base, top = res[R9_SCALES[0]], res[R9_SCALES[-1]]
    ratio = R9_SCALES[-1] // R9_SCALES[0]
    keys = ["index_write", "serve_rest_10k", "serve_rest_64", "serve_mem_10k"]
    return [
        "## ANN serving cells (sim7 / streaming.ann / at-rest layout)",
        "",
        "The kNN cells above receipt the index BUILD; these receipt the",
        "PROBE side — the multi-key explode (levels+1 candidate keys per",
        "query, at most one exists index-side) that lets a query find",
        "its region's split depth without a second index scan.",
        "index_write lays the sized-params bucketed corpus out",
        "partitioned by sig % 64 with the key-space sidecar",
        "(write_lsh_partitioned). A layout property the cells confirm:",
        "split markers and extension planes live at bit nbits and",
        "above, so sig % nparts (nparts <= 2^nbits) depends only on the",
        "BASE signature's low bits — every one of a query's levels+1",
        "candidate keys lands in the SAME partition, and a split",
        "sub-bucket colocates with its base. Pruning is therefore",
        "per-query-region exact: 64 queries read exactly their",
        "|distinct sig0 mod 64| partitions (parts_64 below), never one",
        "extra directory per probe depth. serve_rest_* probe via",
        "ann_serve_at_rest: the 10k-query batch touches ~all partitions",
        "(cost = ONE pruned-to-full corpus scan + the bucket equi-join",
        "— the large-batch cost model at ANY healthy nparts; see the",
        "r10 nparts=512 cell below, which corrected the earlier",
        "'large batches stay pruned at production nparts' over-claim);",
        "the 64-query batch is the pruned regime.",
        "serve_mem_10k is the same batch against the persisted",
        "in-memory AnnIndex. Regenerate alone with:",
        "`python tools/scale_probe.py r9`.",
        "",
        "| rows | " + " | ".join(keys) + " | parts probed (64-q) |",
        "|---|" + "---|" * (len(keys) + 1),
        *[
            f"| {n:,} | "
            + " | ".join(f"{res[n][k]}s" for k in keys)
            + f" | {res[n]['parts_64']}/{res[n]['nparts']} |"
            for n in R9_SCALES
        ],
        "",
        f"Data grew {ratio}x; "
        + ", ".join(f"{k} {top[k] / max(base[k], 0.01):.1f}x" for k in keys)
        + ".",
        "",
        "The bound to hold: serves must never track n*queries — the",
        "explode costs levels+1 probe ROWS per query, not extra index",
        "scans. Measured: both 10k serves are near-FLAT (the broadcast",
        "probe join over capped buckets dominates the pruned corpus",
        "scan at these sizes; the scan term that must track ~n is",
        "visible but small), and the pruned 64-query serve stays flat",
        "on partitions-read grounds. index_write is the one ~n cell,",
        "as a one-time layout cost should be.",
        "",
    ]


def patch_r9_section(res: dict[int, dict[str, float]]) -> None:
    _patch_section("## ANN serving cells", r9_section(res))


def probe_rest_nparts(spark, n: int = 8_000_000,
                      nparts: int = 512) -> dict[str, float]:
    """At-rest pruning at PRODUCTION partition counts (r10): the r9
    cells all use nparts=64, where a 10k-query batch's candidate keys
    saturate every directory and the 'large batches stay pruned at
    production nparts' claim rests on the bit-layout argument alone.
    This cell lays the same 8M corpus out at nparts=512 and re-serves
    both batch sizes, recording partitions probed — the 10k batch must
    be BACK in the pruned regime (parts_probed << nparts never happens
    at 10k queries x ~3 keys over 512 parts; what must show instead is
    that per-part pruning stays exact: parts_probed == |distinct
    sig0 % nparts| of the batch, and the serve does not regress vs the
    nparts=64 layout despite 8x the directories)."""
    import shutil
    import tempfile

    from spark_sql_perf_spark.functions.lsh import sized_params
    from spark_sql_perf_spark.streaming.ann import (
        _query_keys,
        ann_serve_at_rest,
        read_lsh_params,
        write_lsh_partitioned,
    )

    dim = 16
    params = sized_params(n)
    vec = F.array(*[
        (uniform_int(F.col("vec_id"), f"k{i}", 0, 2_000_000) / 1_000_000.0 - 1.0)
        for i in range(dim)
    ])
    vecs = (gen_table(spark, n, {"vec_id": lambda idc: idc})
            .select("vec_id", vec.alias("v")))
    out: dict[str, float] = {"nparts": nparts}
    root = tempfile.mkdtemp(prefix="ann-rest-nparts-")
    path = os.path.join(root, "idx")
    try:
        t0 = time.perf_counter()
        write_lsh_partitioned(vecs, path, dim, params, nparts=nparts)
        out["index_write"] = round(time.perf_counter() - t0, 2)
        side_params, np_read, _ = read_lsh_params(spark, path)
        assert np_read == nparts
        for name, limit in (("10k", 10_000), ("64", 64)):
            q = vecs.where(F.col("vec_id") < limit)
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                (ann_serve_at_rest(spark, q, path, k=3)
                 .write.format("noop").mode("overwrite").save())
                best = min(best, time.perf_counter() - t0)
            out[f"serve_rest_{name}"] = round(best, 2)
            out[f"parts_{name}"] = (
                _query_keys(q, dim, side_params)
                .select(F.pmod(F.col("sig"), F.lit(nparts)).alias("p"))
                .distinct().count()
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def rest_nparts_section(res: dict[str, float],
                        r9_8m: dict[str, float] | None) -> list[str]:
    lines = [
        "## At-rest pruning at production partition counts (r10)",
        "",
        "The ANN serving cells above fix nparts=64, where the 10k-query",
        "batch touches ~every directory — so the claim 'at production",
        "nparts scales with the corpus and large batches stay pruned'",
        "was an argument, not a measurement. This cell re-lays the 8M",
        "corpus out at nparts=512 (sized_nparts territory for a ~1B-row",
        "corpus) and re-serves both batches against it. Regenerate",
        "alone with: `python tools/scale_probe.py rest512`.",
        "",
        "| layout | index_write | serve 10k (parts probed) |"
        " serve 64 (parts probed) |",
        "|---|---|---|---|",
        (
            f"| nparts=512 | {res['index_write']}s"
            f" | {res['serve_rest_10k']}s ({res['parts_10k']}/512)"
            f" | {res['serve_rest_64']}s ({res['parts_64']}/512) |"
        ),
    ]
    if r9_8m:
        lines.append(
            f"| nparts=64 (r9 cells) | {r9_8m['index_write']}s"
            f" | {r9_8m['serve_rest_10k']}s (~64/64)"
            f" | {r9_8m['serve_rest_64']}s ({r9_8m['parts_64']}/64) |"
        )
    lines += [
        "",
        "What the row certifies — and what it CORRECTS (the measurement"
        " came out against part of the r9 prose, which is the point of"
        " running it):",
        "",
        f"1. Pruning stays per-query-region EXACT as granularity scales:"
        f" the 64-query batch reads {res['parts_64']}/512 directories —"
        " the |distinct sig % nparts| bound, measured at 8x the"
        " directory count (same-session nparts=64 row for comparison).",
        "2. The r9 claim 'at production nparts large batches stay pruned"
        f" too' was an over-claim: the 10k batch ({res['parts_10k']}/512"
        " here) saturates ANY healthy directory count — ~30k candidate"
        " keys saturate even the 2^14 sized_nparts cap (~84% of dirs by"
        " the occupancy formula). The large-batch cost model is, and"
        " remains, ONE pruned-to-full scan + the bucket equi-join — the"
        " ~n behavior the r9 cells measured; pruning is the SMALL-batch"
        " win.",
        "3. Directory count must follow corpus VOLUME, not pruning"
        " appetite: 512 dirs over 8M rows is ~16k-row files, and the"
        " small-files tax is now measured — index_write"
        f" {res['index_write']}s, 10k-serve {res['serve_rest_10k']}s,"
        f" 64-query serve {res['serve_rest_64']}s despite reading"
        f" {res['parts_64']}/512 of the directories (vs ~half of 64 at"
        " the sized layout). That tax is exactly why sized_nparts"
        " targets ~2M rows per directory and lets dir count grow only"
        " with the corpus: a 1B-row corpus gets these 512 directories"
        " AT healthy file sizes, where small-batch pruning ratios like"
        " (1) come for free and large batches pay one clean scan.",
        "",
    ]
    return lines


def patch_rest_nparts_section(res: dict[str, float],
                              r9_8m: dict[str, float] | None) -> None:
    _patch_section(
        "## At-rest pruning at production partition counts",
        rest_nparts_section(res, r9_8m),
    )


D8_SCALES = [1_000_000, 4_000_000, 16_000_000]
# the excise-only top cell (spans already has its 3-point curve)
D8_EXCISE64 = 64_000_000


def _d8_probe_corpus(spark, n_docs: int):
    """The d8/d9 probe corpus: 24-word docs over a 5k vocab; 1/16 of
    docs (past the first 16) embed words 8..17 of an earlier document
    mid-text — a planted 10-word cross-document span. A planted doc
    must copy from a source that is ITSELF unplanted — word(src, p) is
    only the source's actual text when the source's own isdup draw did
    not fire (otherwise the copied slice matches nothing and the
    flagged count silently undershoots the stated ~2*n/16 bound)."""

    def word(idc, pos):
        return F.concat(
            F.lit("tok"),
            uniform_int(idc, f"w{pos}", 0, 4999).cast("string"),
        )

    def _is_planted(idc):
        return (uniform_int(idc, "isdup", 0, 15) == 0) & (idc >= 16)

    docs = gen_table(spark, n_docs, {
        "doc_id": lambda idc: idc,
        "span_of": lambda idc: F.when(
            _is_planted(idc) & ~_is_planted((idc / 16).cast("long")),
            (idc / 16).cast("long")).otherwise(F.lit(-1).cast("long")),
    })
    own = F.col("doc_id")
    src = F.col("span_of")
    # positions 8..17 come from the span source when planted
    cols = [
        F.when(src >= 0, word(src, p)).otherwise(word(own, p))
        if 8 <= p <= 17 else word(own, p)
        for p in range(24)
    ]
    return docs.select("doc_id", F.concat_ws(" ", *cols).alias("text"))


def probe_d8(spark, n_docs: int, include_spans: bool = True) -> dict[str, float]:
    """d8's (and d9's) plan shape at volume over _d8_probe_corpus.
    Measures the full spans pipeline (shingle explode -> digest-keyed
    winner aggregate -> hits join -> per-doc islands) and counts flagged
    docs, which must track ~2 * n/16 (every planted doc plus its
    source; a source can serve several planted copies, so 'pairs' is
    the planted count). include_spans=False runs the EXCISE half alone
    (the 64M cell: d9's localCheckpoint materialization is the one cost
    whose growth at the last 4x step was asserted but unmeasured until
    r10), recording the affected (losing) doc count instead."""
    corpus = _d8_probe_corpus(spark, n_docs)
    out: dict[str, float] = {}
    # The 64M cell shuffles a 1.28B-row shingle relation; at the probe
    # default of 32 shuffle partitions that is ~40M rows per window-sort
    # task and the 8g local JVM OOMs (measured r10). Size partitions to
    # the relation like a cluster job would — ~10M shingle rows per
    # task — and restore the conf after (try/finally, the sql7
    # convention). The 1M-16M cells keep the committed-history config.
    conf = spark.conf
    prev_parts = conf.get("spark.sql.shuffle.partitions")
    big = n_docs >= 32_000_000
    try:
        if big:
            conf.set(
                "spark.sql.shuffle.partitions",
                str(max(32, (n_docs * 20) // 10_000_000)),
            )
        return _probe_d8_timed(spark, corpus, include_spans, out)
    finally:
        if big:
            conf.set("spark.sql.shuffle.partitions", prev_parts)


def _probe_d8_timed(spark, corpus, include_spans: bool,
                    out: dict[str, float]) -> dict[str, float]:
    from spark_sql_perf_spark.pipeline.dedup import (
        duplicated_spans_df,
        span_excise_df,
    )

    if include_spans:
        best, flagged = float("inf"), 0
        for _ in range(2):  # min-of-2, like the main probe's cells
            t0 = time.perf_counter()
            flagged = duplicated_spans_df(corpus).count()
            best = min(best, time.perf_counter() - t0)
        out["spans"] = round(best, 2)
        out["flagged_docs"] = flagged
    best_x = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        # noop write: count() would let Catalyst prune the kept_text
        # reassembly out of the measured plan
        (span_excise_df(corpus)
         .write.format("noop").mode("overwrite").save())
        best_x = min(best_x, time.perf_counter() - t0)
    out["excise"] = round(best_x, 2)
    # untimed: the affected (losing) doc count the section reports
    out["affected_docs"] = span_excise_df(corpus).count()
    return out


def d8_cells(spark) -> dict[int, dict[str, float]]:
    out = {}
    for n in D8_SCALES:
        out[n] = probe_d8(spark, n)
        print(f"d8@{n}: {out[n]}", flush=True)
    # the 64M excise-only row (spans already has its 3-cell curve; d9's
    # checkpoint-materialization growth is the open question)
    out[D8_EXCISE64] = probe_d8(spark, D8_EXCISE64, include_spans=False)
    print(f"d8@{D8_EXCISE64}: {out[D8_EXCISE64]}", flush=True)
    return out


def d8_section(res: dict[int, dict[str, float]]) -> list[str]:
    base, top = res[D8_SCALES[0]], res[D8_SCALES[-1]]
    ratio = D8_SCALES[-1] // D8_SCALES[0]
    x64 = res.get(D8_EXCISE64)
    x64_rows = []
    if x64:
        step = D8_EXCISE64 // D8_SCALES[-1]
        x64_rows = [
            f"| {D8_EXCISE64:,} | — | {x64['excise']}s"
            f" | {x64['affected_docs']:,} (losing) |",
            "",
            f"The 64M excise row (r10): the last {step}x data step costs"
            f" {x64['excise'] / max(top['excise'], 0.01):.1f}x time —"
            " n log n sort growth plus this cell's OOM-guard partition"
            " bump (128 vs 32 shuffle partitions; see probe_d8), NOT a"
            " pairwise term: the losing-doc count"
            f" ({x64['affected_docs']:,}) grows exactly 4.0x with the"
            " data, so d9's localCheckpoint materialization (the one"
            " cost whose growth was asserted 'bounded by duplicated"
            " volume' but unmeasured past 16M) scales with duplicated"
            " volume as designed. The cov aggregate is collect_set as"
            " of r10 — a same-session interleaved A/B at 16M measured"
            " set 79.3s vs array_distinct(collect_list) 86.4s (~9%:"
            " adjacent losing shingles overlap k-1 of k covered words,"
            " and the set dedups them MAP-SIDE so the doc_id exchange"
            " ships each offset once); a cross-session 64M list-form"
            " run read 412.8s vs this row's set-form time, but its"
            " session calibration differed 1.20x — the same-session"
            " 16M A/B is the decisive receipt.",
        ]
    return [
        "## Duplicated-span cells (d8/d9 plan shapes)",
        "",
        "24-word docs, 5k vocab, 1/16 planted with a 10-word span copied",
        "from an earlier doc. The pipeline is TWO full shuffles: the",
        "xxhash64-keyed dup-flag window (min/max(doc_id) OVER",
        "(PARTITION BY h) on the shingle relation itself) and ONE",
        "doc-partitioned exchange shared by both islands windows and",
        "both island aggregates. The window form replaced the",
        "groupBy+join-back flag after a same-session A/B (see",
        "duplicated_spans_df docstring): once the dup set outgrows the",
        "broadcast threshold the join form pays a THIRD full shuffle of",
        "the 20n-row relation as SMJ probe, which is exactly the",
        "regime a production corpus lives in. The bound to hold: time",
        "~ shingle volume (20 rows/doc), flagged docs ~ 2 * n/16",
        "(planted + source). Regenerate alone with:",
        "`python tools/scale_probe.py d8`.",
        "",
        "excise runs d9 (span_excise_df) on the same corpus: the d8",
        "digest window (its losing output localCheckpointed so three",
        "consumers pay it once), the covered-word explode (k rows per",
        "LOSING occurrence, bounded by duplicated volume) grouped into",
        "per-doc offset sets, and ONE join delivering each affected doc",
        "its set for an in-row indexed filter — no word-level shuffle.",
        "Cells below are r10 numbers: d9's shingle digest narrowed",
        "md5-hex -> xxhash64 this round (the 8-byte-key saving d8",
        "already measured on its own dup-flag shuffle). Isolated effect",
        "of the digest narrowing (same list-form cov aggregate,",
        "cross-session vs the r9 md5 cells): 4M 26.2s -> 19.7s (~25%),",
        "16M ~flat (99.7s -> 99.1s) — by 16M the dup-flag window is no",
        "longer d9's bottleneck; the losing-relation checkpoint",
        "materialization and the covered-set delivery dominate, which",
        "is exactly what the 64M row below sizes. (The table's excise",
        "column is a later same-round session measuring the final",
        "collect_set form, whose calibration cell read 1.20x — compare",
        "rows within the column, not against the sentence above.)",
        "",
        "| docs | spans | excise | flagged docs |",
        "|---|---|---|---|",
        *[
            f"| {n:,} | {res[n]['spans']}s | {res[n]['excise']}s"
            f" | {res[n]['flagged_docs']:,} |"
            for n in D8_SCALES
        ],
        *x64_rows,
        "",
        f"Data grew {ratio}x (1M -> 16M); spans"
        f" {top['spans'] / max(base['spans'], 0.01):.1f}x,"
        f" excise {top['excise'] / max(base['excise'], 0.01):.1f}x,"
        f" flagged docs {top['flagged_docs'] / max(base['flagged_docs'], 1):.1f}x"
        " — all ~linear; no pairwise term exists in either plan.",
        "",
    ]


def patch_d8_section(res: dict[int, dict[str, float]]) -> None:
    _patch_section("## Duplicated-span cells", d8_section(res))


C12_SCALES = [4_000_000, 16_000_000, 64_000_000]
_C12_DOMAINS = 256


def probe_c12(spark, n_docs: int) -> dict[str, float]:
    """c12's plan shape at volume: per-domain quality-ordered token-budget
    selection over 256 domains via grouped_cum_before. The budget scales
    with rows so the keep-rate stays ~10% at every cell; what must NOT
    scale with rows is the offsets job (64 partitions x 256 domains
    driver rows, constant) or any per-domain single-reducer sort."""
    from spark_sql_perf_spark.pipeline.curation import grouped_cum_before

    docs = gen_table(spark, n_docs, {
        "doc_id": lambda idc: idc,
        "dom": lambda idc: F.concat(
            F.lit("d"), uniform_int(idc, "dom", 0, _C12_DOMAINS - 1).cast("string")),
        "tok": lambda idc: uniform_int(idc, "tok", 50, 500),
        "q": lambda idc: uniform_int(idc, "q", 0, 1_000_000) / 1_000_000.0,
    })
    budget = 275 * n_docs // _C12_DOMAINS // 10  # ~10% of mean domain mass
    best, res = float("inf"), None
    for _ in range(2):  # min-of-2, like the main probe's cells
        t0 = time.perf_counter()
        c = grouped_cum_before(
            docs, "dom", [F.col("q").desc(), F.col("doc_id")], "tok", 64
        )
        kept = (F.col("cum_before") + F.col("tok")) <= budget
        res = (
            c.groupBy("dom")
            .agg(F.sum(kept.cast("long")).alias("n_kept"), F.count(F.lit(1)).alias("n"))
            .agg(F.sum("n_kept").alias("kept"), F.sum("n").alias("total"))
            .collect()[0]
        )
        best = min(best, time.perf_counter() - t0)
    return {
        "budget_select": round(best, 2),
        "keep_rate": round(res["kept"] / res["total"], 4),
    }


def c12_cells(spark) -> dict[int, dict[str, float]]:
    out = {}
    for n in C12_SCALES:
        out[n] = probe_c12(spark, n)
        print(f"c12@{n}: {out[n]}", flush=True)
    return out


def c12_section(res: dict[int, dict[str, float]]) -> list[str]:
    base, top = res[C12_SCALES[0]], res[C12_SCALES[-1]]
    ratio = C12_SCALES[-1] // C12_SCALES[0]
    return [
        "## Grouped-cumsum cells (c12 plan shape)",
        "",
        "Per-domain token-budget selection over 256 domains",
        "(grouped_cum_before): range shuffle on (domain, quality DESC,",
        "id), a CONSTANT 64x256-row offsets job, partition-local",
        "window, budget cut. seq_packing above receipts the GLOBAL",
        "two-pass cumsum; this receipts the grouped generalization —",
        "the shape that matters when one domain alone is terabytes and",
        "a Window.partitionBy(domain) would sort it on one reducer.",
        "The budget scales with rows so keep_rate stays ~0.1 at every",
        "cell; time must track the range shuffle ~linearly. Regenerate",
        "alone with: `python tools/scale_probe.py c12`.",
        "",
        "| rows | budget_select | keep rate |",
        "|---|---|---|",
        *[
            f"| {n:,} | {res[n]['budget_select']}s | {res[n]['keep_rate']} |"
            for n in C12_SCALES
        ],
        "",
        f"Data grew {ratio}x; time "
        f"{top['budget_select'] / max(base['budget_select'], 0.01):.1f}x — "
        "~linear, keep rate flat by construction.",
        "",
    ]


def patch_c12_section(res: dict[int, dict[str, float]]) -> None:
    _patch_section("## Grouped-cumsum cells", c12_section(res))


def probe_seq_packing(spark, n_docs: int):
    """c6's plan shape at volume: global cumulative token sum via the
    two-pass scheme (range shuffle -> per-partition totals to the driver
    -> broadcast offsets -> partition-local window), then chunk into
    4096-token contexts. The cell proves the global running sum has no
    single-reducer funnel: time must track the range shuffle, ~linear."""
    from spark_sql_perf_spark.pipeline.curation import global_cum_before

    docs = gen_table(spark, n_docs, {
        "doc_id": lambda idc: idc,
        "tok": lambda idc: uniform_int(idc, "tok", 50, 500),
    })
    c = global_cum_before(docs, "doc_id", "tok", 64)
    return (c.select("tok", F.floor(F.col("cum_before") / 4096).alias("ctx"))
            .groupBy("ctx").agg(F.count(F.lit(1)).alias("n_docs"),
                                F.sum("tok").alias("n_tokens")))


def probe_decontam(spark, n_docs: int, eval_docs: int = 4096):
    """c1's plan shape at volume: corpus-side word 4-grams vs a FIXED-size
    eval gram set (benchmarks don't grow with the corpus), broadcast hash
    join on the gram string. Time must track the corpus gram explode;
    the eval side stays constant."""
    # 1/16 of corpus docs are verbatim copies of an eval doc (the
    # contamination the operator exists to find); the rest share no
    # 4-gram with eval at this vocab size
    docs = gen_table(spark, n_docs, {
        "doc_id": lambda idc: idc,
        "dup_of": lambda idc: F.when(
            (uniform_int(idc, "isdup", 0, 15) == 0) & (idc >= eval_docs),
            idc % eval_docs).otherwise(idc),
    })
    text_cols = [
        F.concat(F.lit("tok"),
                 uniform_int(F.col("dup_of"), f"cw{i}", 0, 499).cast("string"))
        for i in range(8)
    ]
    corpus = docs.select("doc_id", F.array(*text_cols).alias("ws"))
    grams = corpus.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, 5), i ->"
            " concat_ws(' ', slice(ws, i, 4)))")).alias("gram"))
    ev = (grams.where(F.col("doc_id") < eval_docs)
          .select("gram").distinct())
    return (grams.where(F.col("doc_id") >= eval_docs)
            .join(F.broadcast(ev), "gram")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hit")))


def _rowgroups_overlapping(path: str, boxes: dict) -> tuple[int, int]:
    """(row groups whose min/max stats intersect every box, total)."""
    import glob

    import pyarrow.parquet as pq

    hit = total = 0
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for r in range(md.num_row_groups):
            total += 1
            ok = True
            for col, (lo, hi) in boxes.items():
                st = md.row_group(r).column(names.index(col)).statistics
                if st is None:
                    continue  # no stats written -> reader can't skip: overlapping
                if st.max < lo or st.min > hi:
                    ok = False
                    break
            hit += ok
    return hit, total


def probe_zorder_scan(spark, n: int) -> dict[str, float]:
    """l4's layout at volume: the same rows written (a) Z-ordered on
    (k1, k2), (b) sorted on an uncorrelated key, then a 2-D box scan
    (~1% of rows) with pushed range predicates. Parquet's reader skips
    row groups whose min/max miss the box, so z_scan must stay well
    under lin_scan, and the gap is the data-skip payoff a cluster gets
    for free on every box query."""
    import shutil
    import tempfile

    from spark_sql_perf_spark.operators.layout_query import morton_code

    # the payload column is what makes skipping matter: a real fact/doc
    # table is wide, and a row group that can't be skipped must decode
    # its payload pages even for rows the filter then drops
    fact = gen_table(spark, n, {
        "k1": lambda idc: uniform_int(idc, "z1", 0, 1023),
        "k2": lambda idc: uniform_int(idc, "z2", 0, 1023),
        "v": lambda idc: (uniform_int(idc, "zv", 0, 1_000_000) / 100.0),
        "pay": lambda idc: F.repeat(
            F.conv(uniform_int(idc, "zp", 0, (1 << 62)).cast("string"), 10, 16), 4
        ),
    })
    root = tempfile.mkdtemp(prefix="probe_zorder_")
    out = {}
    try:
        zdf = fact.withColumn("_z", morton_code(F.col("k1"), F.col("k2")))
        (zdf.repartitionByRange(64, "_z").sortWithinPartitions("_z")
            .drop("_z").write.mode("overwrite").parquet(f"{root}/z"))
        (fact.repartitionByRange(64, "v").sortWithinPartitions("v")
            .write.mode("overwrite").parquet(f"{root}/lin"))
        for tag, sub in (("z_scan", "z"), ("lin_scan", "lin")):
            df = (spark.read.parquet(f"{root}/{sub}")
                  .where(F.col("k1").between(0, 101) & F.col("k2").between(0, 101))
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.length("pay")).alias("pay_bytes"),
                       F.sum(F.col("v").cast("decimal(18,2)")).alias("s")))
            best = float("inf")
            for _ in range(2):  # min-of-2: first scan pays codegen/footer warmup
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            out[tag] = round(best, 2)
            # durable evidence, independent of the local job-overhead
            # floor: row groups whose footer min/max intersect the box
            # (what the reader decodes) out of the total
            hit, total = _rowgroups_overlapping(
                f"{root}/{sub}", {"k1": (0, 101), "k2": (0, 101)}
            )
            out[f"rg_{tag}"] = hit
            out[f"rg_total_{tag}"] = total
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def probe_upsert(spark, n: int) -> dict[str, float]:
    """The streaming upsert sink at volume, in its deployment shape:
    bucket count scales with the table (bucket ~ 62.5k rows stays
    constant), so an 8-key batch touches <= 8 buckets ~ 500k rows no
    matter how big the table is. The timed MERGE must stay ~flat in n —
    O(batch), not O(table)."""
    import shutil
    import tempfile

    from spark_sql_perf_spark.streaming.sink import (
        initialize_upsert_target,
        upsert_parquet_batch,
    )

    n_buckets = max(16, n // 62_500)
    target = gen_table(spark, n, {
        "key": lambda idc: idc,
        "ver": lambda idc: F.lit(1).cast("long"),
        "v": lambda idc: (uniform_int(idc, "uv", 0, 1_000_000) / 100.0),
    })
    root = tempfile.mkdtemp(prefix="probe_upsert_")
    tdir = f"{root}/t"
    out = {}
    try:
        initialize_upsert_target(target, tdir, key="key", n_buckets=n_buckets)
        step = max(1, n // 8)
        batch = spark.createDataFrame(
            [(i * step, 2, 999.0) for i in range(8)], "key long, ver long, v double"
        )
        t0 = time.perf_counter()
        upsert_parquet_batch(
            batch, tdir, key="key", version_col="ver", n_buckets=n_buckets
        )
        out["upsert_8keys"] = round(time.perf_counter() - t0, 2)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def wedge_counts(g) -> dict[str, int]:
    """Measured cardinality of each plan's wedge intermediate on a graph.

    ``wedges_naive`` = Sum(in(v) * out(v)) — the rows the naive chain's
    first join emits (and shuffles, once the graph outgrows broadcast).
    ``wedges_ordered`` = Sum(C(d+(v), 2)) over oriented out-degrees —
    the rows the degree-ordered plan feeds its closing join. The first
    grows quadratically with hub degree, the second is O(m^1.5)-bounded;
    these are data facts about the intermediates, independent of how
    fast this box happens to stream them."""
    indeg = g.groupBy("dst").agg(F.count(F.lit(1)).alias("i"))
    outdeg = g.groupBy("src").agg(F.count(F.lit(1)).alias("o"))
    naive = (indeg.join(outdeg, indeg.dst == outdeg.src)
             .agg(F.sum(F.col("i") * F.col("o"))).collect()[0][0])
    from spark_sql_perf_spark.operators.graph import (
        cn_wedges, oriented_adjacency, support_pairs,
    )
    d = F.size("ns").cast("long")
    pairs = support_pairs(g)
    ordered = (oriented_adjacency(pairs)
               .agg(F.sum(d * (d - 1) / 2).cast("long")).collect()[0][0])
    # the square plans' intermediates: the diagonal join materializes
    # ~Sum(in*out) 2-paths (wedges_naive measures that product); the CN
    # wedge relation is the O(arboricity*m)-bounded replacement.
    # sq_cand_pairs decomposes the r5 sq_skew residue: Sum(C(mids, 2))
    # over diagonals is the candidate-pair volume the ENUMERATION form
    # streamed (output-scale, quadratic at hub diagonals) — the windowed
    # closed form never generates it, so its work stops at wedges_sq_cn.
    grp = cn_wedges(pairs).groupBy("v", "w").agg(F.count(F.lit(1)).alias("c"))
    row = grp.agg(
        F.sum("c").cast("long").alias("w"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("cand"),
    ).collect()[0]
    from spark_sql_perf_spark.operators.graph import square_count_df

    n_sq = square_count_df(g, cn_ordered=True).collect()[0][0]
    return {
        "wedges_naive": int(naive),
        "wedges_ordered": int(ordered),
        "wedges_sq_cn": int(row["w"]),
        "wedges_sq_cand_pairs": int(row["cand"]),
        "wedges_n_squares": int(n_sq),
    }


def naive_vs_ordered(spark, n_edges: int) -> dict[str, float]:
    """One-point A/B on the skewed graph with broadcast DISABLED —
    simulating the cluster regime where the edge relation outgrows the
    broadcast threshold and the naive chain's Sum(in*out) wedge
    intermediate becomes real shuffle bytes."""
    out = {}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        g = gen_hub_edges(spark, n_edges, skew=True).persist()
        g.count()
        for name, deg in (("ordered", True), ("naive", False)):
            t0 = time.perf_counter()
            triangle_count_df(g, degree_ordered=deg).write.format("noop").mode(
                "overwrite").save()
            out[name] = round(time.perf_counter() - t0, 2)
        g.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    return out


def factfact_salting_ab(spark, rows: int = 64_000_000) -> dict[str, float]:
    """The factfact suite's salting variation at 64M rows: plain join
    (with and without AQE skew-join splitting) vs explicit salting."""
    from spark_sql_perf_spark.suites import SALTING_CONF, SUITES

    (q,) = SUITES["factfact"](spark, rows=rows)
    out = {}
    cells = [
        ("plain_aqe_skew", "off", "true"),
        ("plain_no_skewjoin", "off", "false"),
        ("salted_16", "on", "true"),
    ]
    try:
        for tag, salting, skewjoin in cells:
            spark.conf.set(SALTING_CONF, salting)
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewjoin)
            t0 = time.perf_counter()
            q.build(spark).write.format("noop").mode("overwrite").save()
            out[tag] = round(time.perf_counter() - t0, 2)
    finally:
        spark.conf.set(SALTING_CONF, "off")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    return out


R11_SCALES = [1_000_000, 4_000_000, 16_000_000]


def _r11_corpus(spark, n_docs: int, rep_every: int = 16):
    """24-word docs over a 5k vocab, one of ``rep_every`` REPETITIVE
    (its first three words repeated eight times — trips c16's top-gram
    thresholds); 8 sources."""

    def word(idc, pos):
        return F.concat(
            F.lit("tok"),
            uniform_int(idc, f"w{pos}", 0, 4999).cast("string"),
        )

    docs = gen_table(spark, n_docs, {
        "doc_id": lambda idc: idc,
        "source": lambda idc: F.concat(F.lit("s"), (idc % 8).cast("string")),
        "rep": lambda idc: uniform_int(idc, "rep", 0, rep_every - 1) == 0,
    })
    own = F.col("doc_id")
    plain = F.concat_ws(" ", *[word(own, p) for p in range(24)])
    first3 = F.concat_ws(" ", *[word(own, p) for p in range(3)])
    loop = F.concat_ws(" ", *([first3] * 8))
    return docs.select(
        "doc_id",
        "source",
        F.when(F.col("rep"), loop).otherwise(plain).alias("text"),
    )


def probe_r11(spark, n_docs: int) -> dict[str, float]:
    """The two r11 plan shapes at volume.

    gopher_cut: c16's composed cut (in-row top-gram fold below the md5
    dedup window, then the rollup) — time must track the ONE corpus
    shuffle ~linearly, and the cut count must track the planted 1/16
    rate (the fold is per-row; a super-linear term here would mean the
    fold leaked into a join or Generate).

    index_build / probe_only: d10's two cost halves, separated the way
    production separates them — the index relations (shingle sets,
    sigs, bands) are written ONCE as parquet (the at-rest form the
    streaming probe reads), then a FIXED 8k-doc batch (half near-dups
    of index docs, half novel over a DISJOINT vocab) probes the
    at-rest index. index_build grows with the corpus and
    amortizes over the stream's lifetime; probe_only is what every
    batch pays — one scan of the index relations plus batch-bounded
    broadcast joins, no index shuffle (the at-rest amortization claim,
    measured instead of asserted). Match accounting must hold at every
    cell: matched tracks |batch|/2 at the band family's analytic
    recall, max candidate fan-in O(1)."""
    from spark_sql_perf_spark.pipeline.curation import repetition_cut_split_df
    from spark_sql_perf_spark.pipeline.dedup import (
        _minhash_frames,
        probe_with_index,
    )

    out: dict[str, float] = {}
    corpus = _r11_corpus(spark, n_docs)
    best, cut = float("inf"), 0
    for _ in range(2):
        t0 = time.perf_counter()
        r = (
            repetition_cut_split_df(corpus)
            .agg(
                F.sum("n_cut_rep").alias("cut"),
                F.sum("n_docs").alias("n"),
            )
            .collect()[0]
        )
        best, cut = min(best, time.perf_counter() - t0), r["cut"]
    out["gopher_cut"] = round(best, 2)
    out["cut_rate"] = round(cut / n_docs, 4)

    # FIXED 8k batch (the per-batch cost must be read against a GROWING
    # index, which is the production question) — shared construction
    # with the r12 cells so the two tables stay comparable
    idx = _r11_corpus(spark, n_docs, rep_every=1 << 30).select(
        F.col("doc_id").alias("id"), "text"
    )
    batch = _r12_probe_batch(spark, idx, n_docs)
    # Materialize the index AT REST as parquet — the actual production
    # form (a localCheckpoint of the 22n-row shingle relation OOMs at
    # the 16M cell: MEMORY_AND_DISK stores deserialized row objects;
    # parquet is also what the streaming probe reads). The shingle
    # relation is 22n rows; size the build shuffle to ~10M rows/task at
    # the big cells (probe_d8's convention), restore after.
    import shutil
    import tempfile

    conf = spark.conf
    prev_parts = conf.get("spark.sql.shuffle.partitions")
    index_dir = tempfile.mkdtemp(prefix="probe-r11-index-")
    t0 = time.perf_counter()
    try:
        if n_docs >= 8_000_000:
            conf.set(
                "spark.sql.shuffle.partitions",
                str(max(32, (n_docs * 22) // 10_000_000)),
            )
        ihashed, isigs, ibands = _minhash_frames(idx)
        ihashed.write.mode("overwrite").parquet(f"{index_dir}/hashed")
        isigs.write.mode("overwrite").parquet(f"{index_dir}/sigs")
        ibands.write.mode("overwrite").parquet(f"{index_dir}/bands")
    finally:
        conf.set("spark.sql.shuffle.partitions", prev_parts)
    out["index_build"] = round(time.perf_counter() - t0, 2)
    index = [
        spark.read.parquet(f"{index_dir}/{rel}")
        for rel in ("hashed", "sigs", "bands")
    ]
    best, matched, max_cand = float("inf"), 0, 0
    try:
        for _ in range(2):
            t0 = time.perf_counter()
            r = (
                probe_with_index(*index, batch)
                .agg(
                    F.sum((F.col("n_match") > 0).cast("long")).alias("m"),
                    F.max("n_cand").alias("mc"),
                    F.count(F.lit(1)).alias("nb"),
                )
                .collect()[0]
            )
            best = min(best, time.perf_counter() - t0)
            matched, max_cand, nb = r["m"], r["mc"], r["nb"]
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
    out["probe_only"] = round(best, 2)
    out["probe_matched"] = int(matched)
    out["probe_batch"] = int(nb)
    out["probe_max_cand"] = int(max_cand)
    return out


def r11_cells(spark) -> dict[int, dict[str, float]]:
    out = {}
    for n in R11_SCALES:
        out[n] = probe_r11(spark, n)
        print(f"r11@{n}: {out[n]}", flush=True)
    return out


def r11_section(res: dict[int, dict[str, float]]) -> list[str]:
    base, top = res[R11_SCALES[0]], res[R11_SCALES[-1]]
    ratio = R11_SCALES[-1] // R11_SCALES[0]
    return [
        "## Gopher-cut & incremental-probe cells (c16/d10 plan shapes)",
        "",
        "gopher_cut: c16's composed repetition cut — the in-row",
        "top-gram fold rides the scan below the ONE md5 dedup window",
        "exchange, so time must track that shuffle ~linearly and the",
        "cut rate must sit at the planted 1/16. index_build/probe_only:",
        "d10's two cost halves separated the way production separates",
        "them — the index relations are written ONCE as parquet (the",
        "at-rest form the streaming probe reads), then a",
        "FIXED 8k-doc batch (half near-dups, half disjoint-vocab",
        "novels) probes the at-rest index. index_build grows with",
        "the corpus and amortizes over the stream's lifetime;",
        "probe_only is what EVERY batch pays — one scan of the index",
        "relations plus batch-bounded broadcast joins, no index",
        "shuffle. Match accounting at every cell: matched tracks",
        "|batch|/2 at the band family's analytic recall (3 bands of 2",
        "at the planted jaccard 0.88 -> ~0.99 of near-dups;",
        "disjoint-vocab novels never match), max candidate fan-in O(1).",
        "Regenerate alone with: `python tools/scale_probe.py r11`.",
        "",
        "| rows | gopher_cut | cut rate | index_build | probe_only | matched/batch | max cand |",
        "|---|---|---|---|---|---|---|",
        *[
            f"| {n:,} | {res[n]['gopher_cut']}s | {res[n]['cut_rate']} "
            f"| {res[n]['index_build']}s | {res[n]['probe_only']}s "
            f"| {res[n]['probe_matched']}/{res[n]['probe_batch']} "
            f"| {res[n]['probe_max_cand']} |"
            for n in R11_SCALES
        ],
        "",
        f"Data grew {ratio}x; gopher_cut "
        f"{top['gopher_cut'] / max(base['gopher_cut'], 0.01):.1f}x, "
        f"index_build {top['index_build'] / max(base['index_build'], 0.01):.1f}x, "
        f"probe_only {top['probe_only'] / max(base['probe_only'], 0.01):.1f}x.",
        "",
    ]


def patch_r11_section(res: dict[int, dict[str, float]]) -> None:
    _patch_section("## Gopher-cut & incremental-probe cells", r11_section(res))


def main() -> None:
    spark = build_session("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    probe(spark, 200_000)  # untimed warmup: JIT + codegen for all 4 shapes
    results = {}
    for n in SCALES:
        results[n] = probe(spark, n)
        print(n, results[n], flush=True)
    ab = naive_vs_ordered(spark, 8_000_000)
    print("naive_vs_ordered@8M-skew, no broadcast:", ab, flush=True)
    salt = factfact_salting_ab(spark)
    print("factfact_salting@64M:", salt, flush=True)
    pq_res = pq_cells(spark)
    r6_res = r6_cells(spark)
    r7_res = r7_cells(spark)
    r8_res = r8_cells(spark)
    r9_res = r9_cells(spark)
    rest_res = probe_rest_nparts(spark)
    print(f"rest512: {rest_res}", flush=True)
    d8_res = d8_cells(spark)
    c12_res = c12_cells(spark)

    time_keys = [
        k for k in results[SCALES[0]]
        if not k.startswith(("wedges_", "rg_"))
    ]
    wedge_keys = [k for k in results[SCALES[0]] if k.startswith("wedges_")]
    lines = [
        "# SCALE_PROBE — wall time vs generated data size (local[32])",
        "",
        "Plans must scale ~linearly; a super-linear jump flags a shuffle",
        "explosion that would bite at cluster scale. Generated with the",
        "deterministic datagen (tools/scale_probe.py); timed cells are",
        "min-of-2 (a one-shot 64M cell can catch a GC/disk hiccup and",
        "misreport by 2-3x).",
        "",
        "| rows | " + " | ".join(time_keys) + " |",
        "|---|" + "---|" * len(time_keys),
    ]
    for n in SCALES:
        lines.append(
            f"| {n:,} | " + " | ".join(f"{results[n][k]}s" for k in time_keys) + " |"
        )
    base, top = results[SCALES[0]], results[SCALES[-1]]
    ratio = SCALES[-1] / SCALES[0]
    lines += ["", f"Data grew {ratio:.0f}x; time ratios:"]
    for k in time_keys:
        lines.append(f"- {k}: {top[k] / max(base[k], 0.01):.1f}x")
    lines += [
        "",
        "Wedge-intermediate cardinality on the skewed graph (n/8 edges):",
        "",
        "| edges | " + " | ".join(wedge_keys) + " |",
        "|---|" + "---|" * len(wedge_keys),
    ]
    for n in SCALES:
        lines.append(
            f"| {n // 8:,} | "
            + " | ".join(f"{results[n][k]:,}" for k in wedge_keys) + " |"
        )
    lines += [
        "",
        "## Pattern-join cells (g3/g4 scale paths)",
        "",
        "tri_uniform / tri_skew run the forced degree-ordered wedge",
        "enumeration over n/8 edges; the skewed graph plants symmetric",
        "hubs whose in*out wedge product grows quadratically in m. The",
        "cell to watch is the skew:uniform ratio per row — ~1 means the",
        "orientation removed the hub term entirely.",
        "",
        "sq_uniform / sq_skew run g4's forced Chiba-Nishizeki square",
        "count over the same graphs — since r6 the windowed closed form:",
        "two running sums over the (v,w)-partitioned wedge relation",
        "replace the candidate-pair enumeration outright. The",
        "diagonal-join plan's 2-path intermediate is the SAME Sum(in*out)",
        "product the naive triangle chain pays (wedges_naive above); the",
        "CN wedge relation (wedges_sq_cn) is bounded by sum over support",
        "pairs of min(deg(lo), deg(hi)) <= 2*arboricity*m, because a hub",
        "mid is only enumerated from its higher-degree neighbors.",
        "wedges_sq_cand_pairs decomposes the r5 sq_skew residue (285s at",
        "64M, 48x): it is Sum(C(mids,2)) over diagonals — the pair volume",
        "the r5 enumeration form streamed, quadratic at hub diagonals,",
        "versus wedges_n_squares, the actual output. The windowed form's",
        "work stops at wedges_sq_cn rows; neither the candidate volume",
        "nor the hub-diagonal quadratic term exists in its plan.",
        "",
        "With broadcast disabled (the >64MB cluster regime) on the 8M-edge",
        "skewed graph, naive id-ordered vs degree-ordered:",
        f"naive {ab['naive']}s vs ordered {ab['ordered']}s. The wedge",
        "table above is the durable evidence: the naive intermediate",
        "grows quadratically with hub degree (~m/256 per side) while the",
        "ordered one stays ~linear in m — this box streams shuffled",
        "wedges at ~160M rows/s, which flatters naive at probe sizes; a",
        "cluster reducer holding one hub key does not get that luxury.",
        "At broadcast-able sizes the engine picks the naive chain instead",
        "(naive_pattern_max_edges, derived from the session's broadcast",
        "threshold) because pipelined BHJ wedges never",
        "materialize — strategy choice is stats-driven, like AQE's.",
        "",
        "## Fact-fact skew: salting variation (suite:factfact, 64M rows)",
        "",
        f"plain + AQE skew-join {salt['plain_aqe_skew']}s | plain, skew-join",
        f"disabled {salt['plain_no_skewjoin']}s | salted n=16 "
        f"{salt['salted_16']}s.",
        "Measured, not assumed: at this multiplicity the hot-key slab",
        "(rows/8 to one reducer) is cheaper than replicating the right",
        "side across 16 salts, and AQE's skew-join split already covers",
        "the SMJ case — explicit salting LOSES here. The variation axis",
        "(spark_sql_perf.join.salting via cli --variations) exists for",
        "the regimes AQE cannot split: aggregate skew and hot slabs that",
        "exceed a single task's memory/time budget at cluster scale.",
        "",
        "## Curation cells (c1/c6 plan shapes)",
        "",
        "seq_packing runs the two-pass global cumulative sum (range",
        "shuffle + broadcast offsets + partition-local window) at the",
        "full row count — the cell proves the global running sum has no",
        "single-reducer funnel. decontam explodes corpus word 4-grams",
        "and joins them against a FIXED 4096-doc eval gram set via",
        "broadcast — time must track the corpus explode alone, since a",
        "benchmark suite does not grow with the training corpus.",
        "pagerank_3it runs g6's 3 fixed-point iterations over the",
        "uniform n/8-edge graph: each iteration shuffles only the",
        "skinny (node, rank) relation, so the cell must stay ~linear",
        "in the edge count.",
        "",
        "## Layout & sink cells (l4 / streaming upsert shapes)",
        "",
        "z_scan vs lin_scan: the same rows (with a ~64-byte payload),",
        "Z-ordered on (k1,k2) vs sorted on an uncorrelated key, scanned",
        "with a ~1% 2-D box predicate. The decisive column is row groups",
        "DECODED (footer min/max intersecting the box) — wall time on",
        "this box sits on the fixed job-overhead floor at probe sizes,",
        "but decoded-row-group count is what scales to a cluster:",
        "",
        "| rows | rg decoded (z) | rg decoded (linear) |",
        "|---|---|---|",
        *[
            f"| {n:,} | {results[n]['rg_z_scan']}/{results[n]['rg_total_z_scan']}"
            f" | {results[n]['rg_lin_scan']}/{results[n]['rg_total_lin_scan']} |"
            for n in SCALES
        ],
        "",
        "upsert_8keys MERGEs a fixed 8-key batch into a",
        "bucket-partitioned target whose bucket count scales with the",
        "table (constant ~62.5k-row buckets — the deployment shape):",
        "cost is O(touched buckets) = O(batch), so the cell must stay",
        "~flat while the table grows 64x.",
        "",
        *pq_section(pq_res),
        *r6_section(r6_res),
        *r7_section(r7_res),
        *r8_section(r8_res),
        *r9_section(r9_res),
        *rest_nparts_section(rest_res, r9_res.get(8_000_000)),
        *d8_section(d8_res),
        *c12_section(c12_res),
        "## 64M-point decomposition (the steepest cells)",
        "",
        "Profiled fact_fact_join at 64M rows: generation alone is ~2.3s,",
        "the shuffle-join ~12s, and the time is insensitive to",
        "spark.sql.shuffle.partitions (32/128/256 within 8%) — so it is not",
        "partition-starvation/spill but the sort-merge shuffle machinery",
        "itself: all 80M rows serialize through one shared local disk and",
        "memory bus. The 4x-data -> ~5x-time step matches O(n log n) sort",
        "cost plus key-cardinality growth (n/10 distinct keys), not a",
        "quadratic term. On a multi-executor cluster shuffle bandwidth",
        "scales out with executors, so this cell is expected to track",
        "~linear at 100 TB; the local[32] curve overstates it.",
    ]
    with open("SCALE_PROBE.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote SCALE_PROBE.md")
    spark.stop()




# ---------------------------------------------------------------------------
# r12: grow-index small-files accretion + compaction; d10 exclude_self cost
# ---------------------------------------------------------------------------

R12_N_DOCS = 4_000_000
R12_BATCH_STATES = [1, 50, 500]


def _r12_probe_batch(spark, idx, n_docs: int, n_batch: int = 8192):
    """probe_r11's fixed batch (half near-dups of index docs, half
    disjoint-vocab novels), over an explicit (id, text) index frame."""
    half = n_batch // 2
    # every max(1, n_docs // half)-th index doc: all of them when the
    # index holds fewer docs than the half batch
    stride = max(1, n_docs // half)
    near = idx.where(F.col("id") % stride == 0).limit(half).select(
        (F.col("id") + n_docs).alias("id"),
        F.concat("text", F.lit(" probe batch suffix")).alias("text"),
    )

    def nword(idc, pos):
        return F.concat(
            F.lit("ntok"),
            uniform_int(idc, f"nw{pos}", 0, 4999).cast("string"),
        )

    novel = gen_table(spark, half, {"bid": lambda idc: idc}).select(
        (F.col("bid") + 2 * n_docs).alias("id"),
        F.concat_ws(" ", *[nword(F.col("bid"), p) for p in range(24)]).alias(
            "text"
        ),
    )
    return near.unionAll(novel)


def probe_r12(spark, n_docs: int = R12_N_DOCS) -> dict[str, float]:
    """Two r12 questions, both on a 4M-doc at-rest index.

    1. grow-index accretion (VERDICT r11 task 2): the streaming
       grow-index loop appends one parquet file-set per micro-batch per
       relation; after 10^4 batches the probe's index scan is
       file-listing/footer/task-setup-bound. Measure probe_only at
       1 / 50 / 500 appended batch file-sets, then run compact_index
       and measure again. The appended file-sets are REPLICATED from
       one real grow_index_append's output (driver-side file copies
       with fresh names): the probe cost being measured is a function
       of file count and layout, not of which novel docs the files
       hold, and a real 500-batch stream at this index size would add
       ~45 min of guard scans to the probe run for identical file
       arithmetic. Decision accounting is asserted constant across all
       file states (the planted near-dups must match regardless).

    2. d10 exclude_self cost (task 7): the grow-index contract's
       self-exclusion predicate runs AFTER the bucket join; its cost at
       volume had no number. Same batch, same index, exclude_self
       True vs False, min-of-2 each.
    """
    import shutil
    import tempfile

    from spark_sql_perf_spark.pipeline.dedup import (
        _minhash_frames,
        probe_with_index,
    )
    from spark_sql_perf_spark.streaming.dedup import (
        compact_index,
        grow_index_append,
        index_file_counts,
        write_index_frames,
    )

    out: dict[str, float] = {}
    idx = _r11_corpus(spark, n_docs, rep_every=1 << 30).select(
        F.col("doc_id").alias("id"), "text"
    )
    batch = _r12_probe_batch(spark, idx, n_docs)

    index_dir = tempfile.mkdtemp(prefix="probe-r12-index-")
    try:
        write_index_frames(index_dir, *_minhash_frames(idx))

        def read_index():
            return (
                spark.read.parquet(f"{index_dir}/hashed"),
                spark.read.parquet(f"{index_dir}/sigs"),
                spark.read.parquet(f"{index_dir}/bands").select(
                    "id", "band", "bh"
                ),
            )

        def timed_probe(tag: str, exclude_self: bool = False):
            best, matched = float("inf"), 0
            for _ in range(2):
                t0 = time.perf_counter()
                r = (
                    probe_with_index(
                        *read_index(), batch, exclude_self=exclude_self
                    )
                    .agg(
                        F.sum((F.col("n_match") > 0).cast("long")).alias("m"),
                        F.count(F.lit(1)).alias("nb"),
                    )
                    .collect()[0]
                )
                best, matched = min(best, time.perf_counter() - t0), r["m"]
            out[tag] = round(best, 2)
            return int(matched)

        # --- exclude_self cost, measured before any accretion ---
        m_plain = timed_probe("probe_plain")
        m_excl = timed_probe("probe_exclude_self", exclude_self=True)
        # no batch id is in the index, so the predicate must not change
        # decisions — only cost
        assert m_plain == m_excl, (m_plain, m_excl)
        out["probe_matched"] = m_plain

        # --- one REAL grow append: the file-set template ---
        import os

        novels = batch.where(F.col("id") >= 2 * n_docs).limit(512)
        before = {
            rel: set(
                os.path.join(dp, f)
                for dp, _, fs in os.walk(f"{index_dir}/{rel}")
                for f in fs
                if not f.startswith(("_", "."))
            )
            for rel in ("hashed", "sigs", "bands")
        }
        grow_index_append(spark, index_dir, novels)
        template = {
            rel: sorted(
                set(
                    os.path.join(dp, f)
                    for dp, _, fs in os.walk(f"{index_dir}/{rel}")
                    for f in fs
                    if not f.startswith(("_", "."))
                )
                - before[rel]
            )
            for rel in ("hashed", "sigs", "bands")
        }
        out["files_per_append"] = sum(len(v) for v in template.values())

        # --- accretion states: replicate the template file-set ---
        state_done = 1  # the real append above
        for target in R12_BATCH_STATES:
            for i in range(state_done, target):
                for rel, files in template.items():
                    for src in files:
                        d, base = os.path.split(src)
                        shutil.copy(src, os.path.join(d, f"r12sim-{i}-{base}"))
            state_done = max(state_done, target)
            counts = index_file_counts(spark, index_dir)
            out[f"files_at_{target}"] = sum(counts.values())
            # the loop's own predicate: a grown index holds batch ids
            # (the appended novels), which must match only OTHER docs
            m = timed_probe(f"probe_at_{target}", exclude_self=True)
            assert m == m_plain, (target, m, m_plain)

        # --- compaction ---
        t0 = time.perf_counter()
        compacted = compact_index(spark, index_dir, max_files=64)
        out["compact_s"] = round(time.perf_counter() - t0, 2)
        counts = index_file_counts(spark, index_dir)
        out["files_compacted"] = sum(counts.values())
        assert set(compacted) == {"hashed", "sigs", "bands"}, compacted
        m = timed_probe("probe_compacted", exclude_self=True)
        assert m == m_plain, ("compacted", m, m_plain)
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
    return out


def r12_section(res: dict[str, float]) -> list[str]:
    state_rows = [
        f"| probe_only @ {t} appended batches ({res[f'files_at_{t}']:,} files) "
        f"| {res[f'probe_at_{t}']}s |"
        for t in R12_BATCH_STATES
    ]
    return [
        "## Grow-index accretion & compaction; exclude_self cost (r12)",
        "",
        "The streaming grow-index loop appends one parquet file-set per",
        "micro-batch per relation (hashed/sigs/bands); compact_index is",
        "its small-files answer (threshold rewrite, size-targeted file",
        "count, crash-recovering swap). Cells: d10's probe_only over a",
        f"{R12_N_DOCS:,}-doc at-rest index while appended batch",
        "file-sets accumulate, then after one compaction pass. Appended",
        "file-sets beyond the first are driver-side replicas of one",
        "REAL grow_index_append's files (the probe cost is file-count",
        "arithmetic, not content); decisions are asserted constant",
        "across every file state (accretion cells run with the loop's",
        "own exclude_self=True — the grown index holds appended batch",
        "ids, which must match only OTHER docs). exclude_self row: the",
        "same probe with the self-exclusion predicate (it runs after",
        "the bucket join), True vs False on the base index.",
        "Regenerate alone with: `python tools/scale_probe.py r12`.",
        "",
        "| cell | value |",
        "|---|---|",
        f"| probe_only, base index | {res['probe_plain']}s |",
        f"| probe_only, exclude_self=True | {res['probe_exclude_self']}s |",
        f"| files per appended batch | {res['files_per_append']} |",
        *state_rows,
        f"| compact_index (threshold 64) | {res['compact_s']}s |",
        f"| probe_only, compacted ({res['files_compacted']:,} files) "
        f"| {res['probe_compacted']}s |",
        "",
        f"Matched {res['probe_matched']}/8192 at every file state —",
        "accretion and compaction change COST only, never decisions.",
        "",
        "Reading: at this index size the probe's COMPUTE floor",
        "(~5.4-6.3s run band) dominates, so 2,660 files cost ~0.5s of",
        "marginal listing/footer/task-setup tax and exclude_self is",
        "free within run noise. The tax is ABSOLUTE, not relative — the",
        "same 2,660-file state adds +31% to a 100k-doc index's ~3.2s",
        "probe (smoke cell, same protocol), and the r10 sim8 cell",
        "measured 82.6s vs 46.2s when file count dominated the scan —",
        "so a long-running stream (10^4 batches -> ~50k files) NEEDS",
        "the threshold compaction; at 5 files/append and threshold 64,",
        "the loop compacts every ~13 batches at a measured ~52s per",
        "pass on 4M docs, amortizing to ~4s/batch of background rewrite",
        "against an unbounded listing tax.",
        "",
    ]


def patch_r12_section(res: dict[str, float]) -> None:
    _patch_section(
        "## Grow-index accretion & compaction; exclude_self cost (r12)",
        r12_section(res),
    )




def probe_r12_loop(spark, n_docs: int = 1_000_000, n_batches: int = 20,
                   batch_rows: int = 2048) -> dict[str, float]:
    """End-to-end grow-LOOP cost (r12): probe_only measures the probe
    half alone; the streaming loop additionally pays the decision merge
    (O(touched buckets)), three guard scans, the single-file appends,
    and the compact_every cadence. This cell runs the REAL
    streaming_incremental_probe (grow_index=True, one file per
    micro-batch) over ``n_batches`` generated batches against a
    ``n_docs``-doc at-rest index and reads per-batch wall times from
    the query's own progress events — the number a capacity plan needs
    is avg steady-state batch seconds, split against the probe-only
    baseline. Half of each batch is near-dups of corpus docs, half
    fresh per-batch vocab (so every batch exercises both decision
    paths and actually grows the index)."""
    import os
    import shutil
    import tempfile

    from spark_sql_perf_spark.pipeline.dedup import (
        _minhash_frames,
        probe_with_index,
    )
    from spark_sql_perf_spark.streaming.dedup import (
        streaming_incremental_probe,
        write_index_frames,
    )

    out: dict[str, float] = {}
    work = tempfile.mkdtemp(prefix="probe-r12loop-")
    index_dir = os.path.join(work, "index")
    stream_dir = os.path.join(work, "arrivals")
    target_dir = os.path.join(work, "decisions")
    os.makedirs(stream_dir)
    sf_dir = "/root/testdata/sf0.01"  # schema source for the stream only

    idx = _r11_corpus(spark, n_docs, rep_every=1 << 30).select(
        F.col("doc_id").alias("id"), "text"
    )
    write_index_frames(index_dir, *_minhash_frames(idx))

    half = batch_rows // 2
    meta_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    meta_cols = [f.name for f in meta_schema if f.name not in ("doc_id", "text")]

    def gen_batch(k: int):
        near = (
            idx.where(F.col("id") % (n_docs // half) == k % 7)
            .limit(half)
            .select(
                (F.col("id") + (10 + k) * n_docs).alias("doc_id"),
                F.concat("text", F.lit(f" loop batch {k} suffix")).alias("text"),
            )
        )

        def bword(idc, pos):  # per-batch vocab -> novel, then indexed
            return F.concat(
                F.lit(f"b{k}tok"),
                uniform_int(idc, f"b{k}w{pos}", 0, 4999).cast("string"),
            )

        novel = gen_table(spark, half, {"bid": lambda idc: idc}).select(
            (F.col("bid") + (200 + k) * n_docs).alias("doc_id"),
            F.concat_ws(
                " ", *[bword(F.col("bid"), p) for p in range(24)]
            ).alias("text"),
        )
        b = near.unionAll(novel)
        for c in meta_cols:
            b = b.withColumn(
                c, F.lit(None).cast(meta_schema[c].dataType)
            )
        return b.select([f.name for f in meta_schema])

    for k in range(n_batches):
        gen_batch(k).coalesce(1).write.parquet(
            os.path.join(work, f"b{k}.parquet")
        )
        part = [
            f
            for f in os.listdir(os.path.join(work, f"b{k}.parquet"))
            if f.endswith(".parquet")
        ][0]
        os.symlink(
            os.path.join(work, f"b{k}.parquet", part),
            os.path.join(stream_dir, f"arrival-{k:03d}.parquet"),
        )

    # probe-only baseline at the same batch size against the same index
    index = (
        spark.read.parquet(f"{index_dir}/hashed"),
        spark.read.parquet(f"{index_dir}/sigs"),
        spark.read.parquet(f"{index_dir}/bands").select("id", "band", "bh"),
    )
    baseline = gen_batch(0).select(
        F.col("doc_id").alias("id"), F.lower("text").alias("text")
    )
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        probe_with_index(*index, baseline, exclude_self=True).agg(
            F.count(F.lit(1))
        ).collect()
        best = min(best, time.perf_counter() - t0)
    out["probe_only_baseline"] = round(best, 2)

    t0 = time.perf_counter()
    q = streaming_incremental_probe(
        spark, sf_dir, stream_dir, index_dir, target_dir,
        max_files_per_trigger=1, grow_index=True, compact_every=10,
        compact_max_files=64,
    )
    if not q.awaitTermination(1800):
        # same discipline as run_stream_append: a hung drain must fail
        # loudly, not patch partial per-batch numbers into SCALE_PROBE.md
        q.stop()
        raise TimeoutError("probe_r12_loop: stream drain exceeded 1800s")
    out["loop_total_s"] = round(time.perf_counter() - t0, 2)
    prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    durs = sorted(
        p["durationMs"]["triggerExecution"] / 1000.0 for p in prog
    )
    out["loop_batches"] = len(durs)
    out["loop_batch_median_s"] = round(durs[len(durs) // 2], 2)
    out["loop_batch_max_s"] = round(durs[-1], 2)

    from spark_sql_perf_spark.streaming.dedup import index_file_counts

    out["index_files_end"] = sum(index_file_counts(spark, index_dir).values())
    import pyspark.sql.functions as _F

    dec = spark.read.parquet(target_dir)
    out["decisions_rows"] = dec.count()
    out["decisions_novel"] = dec.where(_F.col("is_novel")).count()
    shutil.rmtree(work, ignore_errors=True)
    return out


def r12_loop_section(res: dict[str, float]) -> list[str]:
    return [
        "## Grow-loop end-to-end cells (r12)",
        "",
        "The REAL streaming loop (grow_index=True, compact_every=10),",
        "20 one-file micro-batches of 2,048 docs (half near-dups of",
        "corpus docs, half fresh per-batch vocab) against a 1M-doc",
        "at-rest index; per-batch wall times from the query's progress",
        "events. The loop's per-batch premium over probe_only is the",
        "merge (O(touched buckets)), three guard scans, the single-file",
        "appends, and the amortized compaction cadence.",
        "Regenerate alone with: `python tools/scale_probe.py r12loop`.",
        "",
        "| cell | value |",
        "|---|---|",
        f"| probe_only baseline (2,048-doc batch) | {res['probe_only_baseline']}s |",
        f"| loop batches drained | {res['loop_batches']} |",
        f"| loop per-batch median | {res['loop_batch_median_s']}s |",
        f"| loop per-batch max (incl. compaction batch) | {res['loop_batch_max_s']}s |",
        f"| loop total | {res['loop_total_s']}s |",
        f"| index data files at end | {res['index_files_end']} |",
        f"| decisions stored / novel | {res['decisions_rows']} / {res['decisions_novel']} |",
        "",
        "Reading: the per-batch premium over probe_only (~6s here) is",
        "FIXED job-count overhead — the merge's touched-bucket collect",
        "+ winners write, two localCheckpoints, three guard scans,",
        "three single-file appends, and the recovery probes come to",
        "~15 Spark jobs per micro-batch, each paying scheduling",
        "latency, independent of batch size. At production batch",
        "volumes (10^5-10^6 docs/batch) the same jobs amortize into",
        "data-bound work; at tiny batches the premium argues for LARGER",
        "trigger intervals, not a different design. Compaction at",
        "compact_every=10 held the index at 137 files across 20",
        "appending batches (the accretion cells above price the",
        "alternative); novel counts match plants minus the band",
        "family's ~3% near-dup recall miss.",
        "",
    ]


def patch_r12_loop_section(res: dict[str, float]) -> None:
    _patch_section("## Grow-loop end-to-end cells (r12)", r12_loop_section(res))


# ---------------------------------------------------------------------------
# r13: partition-pruned at-rest probe (id_part layout) — receipts
# ---------------------------------------------------------------------------

R13_N_DOCS = 4_000_000
R13_BATCH_SIZES = [16, 512, 8192]
R13_ACCRETION_STATES = [50, 200]


def probe_r13(spark, n_docs: int = R13_N_DOCS) -> dict[str, float]:
    """The r12 VERDICT task-2 receipts: the at-rest index now lays
    hashed/sigs/bands out partitioned by the bounded id-derived
    ``id_part`` key, and probe_index_at_rest reads ONLY the candidate
    ids' directories. Cells, all on a ``n_docs``-doc index:

    1. pruning by batch size — pruned vs full probe (min-of-2) at
       trickle/medium/saturating batches, with decisions asserted
       IDENTICAL row-for-row, plus the receipt: candidate partitions
       hit (of the index's recorded id_part count) and hashed data
       files actually read (of the relation's total). The trickle
       regime is the win (per-batch index I/O was the fixed O(index)
       tax); at saturating batches the parts saturate and pruned ==
       full, which is the regime where the scan amortizes over
       candidates anyway (stated, not hidden).
    2. accretion under the NEW layout — an append publishes one file
       per TOUCHED directory (not ~5 flat files as in the r12 cells),
       so file counts accrete faster; re-priced at 50/200 appended
       batch file-sets with the pruned probe, then compact_index
       (whose threshold now sits above the one-file-per-directory
       floor) re-measured.
    """
    import os
    import shutil
    import tempfile

    from spark_sql_perf_spark.pipeline.dedup import (
        _minhash_frames,
        probe_with_index,
    )
    from spark_sql_perf_spark.streaming.dedup import (
        _ID_PART,
        _delta_dir,
        _id_part,
        _index_fs,
        _recorded_parts,
        compact_index,
        grow_index_append,
        index_file_counts,
        probe_index_at_rest,
        write_index_frames,
    )

    out: dict[str, float] = {}
    idx = _r11_corpus(spark, n_docs, rep_every=1 << 30).select(
        F.col("doc_id").alias("id"), "text"
    )
    index_dir = tempfile.mkdtemp(prefix="probe-r13-index-")
    try:
        write_index_frames(index_dir, *_minhash_frames(idx))
        totals = index_file_counts(spark, index_dir)
        out["files_base"] = sum(totals.values())
        n_id_parts = _recorded_parts(*_index_fs(spark, index_dir), f"{index_dir}/hashed")

        def read_full():
            return (
                spark.read.parquet(f"{index_dir}/hashed"),
                spark.read.parquet(f"{index_dir}/sigs"),
                spark.read.parquet(f"{index_dir}/bands").select(
                    "id", "band", "bh"
                ),
            )

        def rows_of(df):
            cols = ["batch_id", "n_cand", "n_match", "match_id_min",
                    "best_jaccard", "is_novel"]
            return {
                r["batch_id"]: tuple(r[c] for c in cols[1:])
                for r in df.select(*cols).collect()
            }

        def release(frame):
            try:
                frame._jdf.queryExecution().analyzed().rdd().unpersist(False)
            except Exception:
                pass

        for bs in R13_BATCH_SIZES:
            batch = _r12_probe_batch(spark, idx, n_docs, n_batch=bs)
            best_full, want = float("inf"), None
            for _ in range(2):
                t0 = time.perf_counter()
                want = rows_of(
                    probe_with_index(*read_full(), batch, exclude_self=True)
                )
                best_full = min(best_full, time.perf_counter() - t0)
            best_pruned, got, parts_hit, cand_last = float("inf"), None, 0, None
            for _ in range(2):
                if cand_last is not None:
                    release(cand_last)
                t0 = time.perf_counter()
                pr, cand = probe_index_at_rest(
                    spark, index_dir, batch, exclude_self=True
                )
                got = rows_of(pr)
                best_pruned = min(best_pruned, time.perf_counter() - t0)
                cand_last = cand
                parts_hit = (
                    cand.select(_id_part("idx_id", n_id_parts).alias("p"))
                    .distinct()
                    .count()
                )
            assert got == want, f"pruned decisions diverged at batch={bs}"
            parts = [
                r[0]
                for r in cand_last.select(_id_part("idx_id", n_id_parts).alias("p"))
                .distinct()
                .collect()
            ]
            files_read = (
                spark.read.parquet(f"{index_dir}/hashed")
                .where(F.col(_ID_PART).isin(parts))
                .select(F.input_file_name().alias("f"))
                .distinct()
                .count()
            )
            release(cand_last)
            out[f"full_s_{bs}"] = round(best_full, 2)
            out[f"pruned_s_{bs}"] = round(best_pruned, 2)
            out[f"parts_{bs}"] = parts_hit
            out[f"hashed_files_read_{bs}"] = files_read
        out["n_id_parts"] = n_id_parts
        out["hashed_files_total"] = totals["hashed"]

        # --- accretion under the new layout ---
        batch = _r12_probe_batch(spark, idx, n_docs)
        novels = batch.where(F.col("id") >= 2 * n_docs).limit(512)

        def delta_files(rel):
            # appends land in the relation's flat __delta sidecar
            return {
                os.path.join(dp, f)
                for dp, _, fs_ in os.walk(_delta_dir(index_dir, rel))
                for f in fs_
                if not f.startswith(("_", "."))
            }

        before = {rel: delta_files(rel) for rel in ("hashed", "sigs", "bands")}
        grow_index_append(spark, index_dir, novels)
        template = {
            rel: sorted(delta_files(rel) - before[rel])
            for rel in ("hashed", "sigs", "bands")
        }
        out["files_per_append"] = sum(len(v) for v in template.values())

        def timed_grown(tag):
            best, got = float("inf"), None
            for _ in range(2):
                t0 = time.perf_counter()
                pr, cand = probe_index_at_rest(
                    spark, index_dir, batch, exclude_self=True
                )
                got = pr.agg(
                    F.sum((F.col("n_match") > 0).cast("long")).alias("m")
                ).collect()[0]["m"]
                best = min(best, time.perf_counter() - t0)
                release(cand)
            out[tag] = round(best, 2)
            return int(got)

        m_base = timed_grown("pruned_s_grown_1")
        state_done = 1
        for target in R13_ACCRETION_STATES:
            for i in range(state_done, target):
                for rel, files in template.items():
                    for src in files:
                        d, base = os.path.split(src)
                        shutil.copy(src, os.path.join(d, f"r13sim-{i}-{base}"))
            state_done = max(state_done, target)
            out[f"files_at_{target}"] = sum(
                index_file_counts(spark, index_dir).values()
            )
            m = timed_grown(f"pruned_s_at_{target}")
            assert m == m_base, (target, m, m_base)
        t0 = time.perf_counter()
        compacted = compact_index(spark, index_dir, max_files=64)
        out["compact_s"] = round(time.perf_counter() - t0, 2)
        out["files_compacted"] = sum(
            index_file_counts(spark, index_dir).values()
        )
        assert set(compacted) == {"hashed", "sigs", "bands"}, compacted
        m = timed_grown("pruned_s_compacted")
        assert m == m_base, ("compacted", m, m_base)
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
    return out


def r13_section(res: dict[str, float]) -> list[str]:
    size_rows = [
        f"| batch {bs}: pruned {res[f'pruned_s_{bs}']}s vs full "
        f"{res[f'full_s_{bs}']}s | {res[f'parts_{bs}']}/{res['n_id_parts']}"
        f" parts, {res[f'hashed_files_read_{bs}']}/"
        f"{res['hashed_files_total']} hashed files read |"
        for bs in R13_BATCH_SIZES
    ]
    acc_rows = [
        f"| pruned probe @ {t} appended batches "
        f"({res[f'files_at_{t}']:,} files) | {res[f'pruned_s_at_{t}']}s |"
        for t in R13_ACCRETION_STATES
    ]
    return [
        "## Partition-pruned at-rest probe (r13, id_part layout)",
        "",
        f"The at-rest index ({R13_N_DOCS:,} docs) now lays all three",
        "relations out partitioned by id_part = xxhash64(id) %",
        f"{res['n_id_parts']}; probe_index_at_rest materializes the",
        "candidate pairs first, collects their distinct id_part values",
        "(bounded by the part count, never O(ids)), and reads ONLY",
        "those directories of hashed/sigs. Decisions are asserted",
        "row-identical to the unpruned probe at every cell. The guard",
        "scans of grow_index_append prune the same way (and fold into",
        "one job). Regenerate: `python tools/scale_probe.py r13`.",
        "",
        "| pruned vs full probe | I/O receipt |",
        "|---|---|",
        *size_rows,
        "",
        "Reading: the trickle regime is the target — per-batch index",
        "I/O drops from O(index) to O(candidate partitions), the r12",
        "verdict's named residual. At saturating batch sizes the",
        "candidate ids hit every partition and pruned == full (stated",
        "openly: pruning is a trickle-regime win; large batches were",
        "already amortizing the scan over their candidates).",
        "",
        "Accretion under the base+delta layout (appends land as ONE",
        "flat file per relation per micro-batch in the __delta sidecar",
        "— a naive partitioned-base append measured 192 files for this",
        "same 512-novel batch, a 38x listing-tax multiplier, which is",
        "why the sidecar exists; compact_index folds delta into the",
        "partitioned base on the threshold cadence via a crash-safe",
        "two-directory swap):",
        "",
        "| cell | value |",
        "|---|---|",
        f"| index files, fresh | {res['files_base']:,} |",
        f"| delta files per 512-novel append | {res['files_per_append']} |",
        f"| pruned probe @ 1 appended batch | {res['pruned_s_grown_1']}s |",
        *acc_rows,
        f"| compact_index (fold delta, threshold 64) | {res['compact_s']}s |",
        f"| pruned probe, compacted ({res['files_compacted']:,} files) "
        f"| {res['pruned_s_compacted']}s |",
        "",
        "Reading: the pruned probe's overhead at saturating batches",
        "(the candidate materialization + bounded parts collect) is the",
        "flat price of the trickle win. The accretion cells price",
        "SKIPPING compaction — the delta is read in full every probe,",
        "so its file count is the listing/footer tax — and the",
        "compaction pass prices clearing it; at the grow loop's",
        "compact_every=10 cadence the delta never exceeds ~30 files.",
        "Post-compaction the probe returns to the fresh-index band.",
        "",
    ]


def patch_r13_section(res: dict[str, float]) -> None:
    _patch_section(
        "## Partition-pruned at-rest probe (r13, id_part layout)", r13_section(res)
    )


def r13_loop_section(res: dict[str, float]) -> list[str]:
    return [
        "## Grow-loop end-to-end cells (r13, after guard-fold + pruned reads)",
        "",
        "The same cell as the r12 section above (REAL streaming loop,",
        "grow_index=True, compact_every=10, 20 one-file micro-batches",
        "of 2,048 docs against a 1M-doc at-rest index), re-measured",
        "after the r13 changes: the three per-relation guard scans fold",
        "into ONE pruned job, recover_index's fs probes are skipped",
        "between cleanly-committed batches (session-healthy flag), the",
        "probe's hashed/sigs base reads partition-prune, and appends",
        "land as one flat delta file per relation (folded into the",
        "partitioned base by the compact_every cadence). r12 committed",
        "values for comparison: probe_only 0.94s, per-batch median",
        "7.16s, max 10.91s, total 149.2s.",
        "Regenerate alone with: `python tools/scale_probe.py r13loop`.",
        "",
        "| cell | value |",
        "|---|---|",
        f"| probe_only baseline (2,048-doc batch) | {res['probe_only_baseline']}s |",
        f"| loop batches drained | {res['loop_batches']} |",
        f"| loop per-batch median | {res['loop_batch_median_s']}s |",
        f"| loop per-batch max (incl. compaction batch) | {res['loop_batch_max_s']}s |",
        f"| loop total | {res['loop_total_s']}s |",
        f"| index data files at end | {res['index_files_end']} |",
        f"| decisions stored / novel | {res['decisions_rows']} / {res['decisions_novel']} |",
        "",
    ]


def patch_r13_loop_section(res: dict[str, float]) -> None:
    _patch_section(
        "## Grow-loop end-to-end cells (r13, after guard-fold + pruned reads)",
        r13_loop_section(res),
    )


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    if mode == "pq":
        spark = build_session("scale-probe-pq")
        spark.sparkContext.setLogLevel("ERROR")
        # no separate warmup: min-of-2 absorbs JIT in the 1M cell's first shot
        patch_pq_section(pq_cells(spark))
        spark.stop()
    elif mode == "r6":
        spark = build_session("scale-probe-r6")
        spark.sparkContext.setLogLevel("ERROR")
        patch_r6_section(r6_cells(spark))
        spark.stop()
    elif mode == "r8":
        spark = build_session("scale-probe-r8")
        spark.sparkContext.setLogLevel("ERROR")
        probe_r8(spark, 100_000)  # untimed warmup: JIT + codegen
        patch_r8_section(r8_cells(spark))
        spark.stop()
    elif mode == "r7":
        spark = build_session("scale-probe-r7")
        spark.sparkContext.setLogLevel("ERROR")
        probe_r7(spark, 100_000)  # untimed warmup: JIT + codegen for all shapes
        patch_r7_section(r7_cells(spark))
        spark.stop()
    elif mode == "r9":
        spark = build_session("scale-probe-r9")
        spark.sparkContext.setLogLevel("ERROR")
        probe_r9(spark, 100_000)  # untimed warmup: JIT + codegen
        patch_r9_section(r9_cells(spark))
        spark.stop()
    elif mode == "d8":
        spark = build_session("scale-probe-d8")
        spark.sparkContext.setLogLevel("ERROR")
        probe_d8(spark, 100_000)  # untimed warmup: JIT + codegen
        patch_d8_section(d8_cells(spark))
        spark.stop()
    elif mode == "c12":
        spark = build_session("scale-probe-c12")
        spark.sparkContext.setLogLevel("ERROR")
        probe_c12(spark, 200_000)  # untimed warmup: JIT + codegen
        patch_c12_section(c12_cells(spark))
        spark.stop()
    elif mode == "rest512":
        spark = build_session("scale-probe-rest512")
        spark.sparkContext.setLogLevel("ERROR")
        probe_r9(spark, 100_000)  # untimed warmup: JIT + codegen
        r9_8m = probe_r9(spark, 8_000_000)  # fresh same-session 64-part row
        print(f"r9@8M (nparts=64): {r9_8m}", flush=True)
        res = probe_rest_nparts(spark)
        print(f"rest512: {res}", flush=True)
        patch_rest_nparts_section(res, r9_8m)
        spark.stop()
    elif mode == "r11":
        spark = build_session("scale-probe-r11")
        spark.sparkContext.setLogLevel("ERROR")
        probe_r11(spark, 100_000)  # untimed warmup: JIT + codegen
        patch_r11_section(r11_cells(spark))
        spark.stop()
    elif mode == "r12":
        spark = build_session("scale-probe-r12")
        spark.sparkContext.setLogLevel("ERROR")
        probe_r12(spark, 200_000)  # untimed warmup: JIT + codegen
        res = probe_r12(spark)
        print(f"r12: {res}", flush=True)
        patch_r12_section(res)
        spark.stop()
    elif mode == "r12loop":
        spark = build_session("scale-probe-r12loop")
        spark.sparkContext.setLogLevel("ERROR")
        res = probe_r12_loop(spark)
        print(f"r12loop: {res}", flush=True)
        patch_r12_loop_section(res)
        spark.stop()
    elif mode == "r13":
        spark = build_session("scale-probe-r13")
        spark.sparkContext.setLogLevel("ERROR")
        probe_r13(spark, 200_000)  # untimed warmup: JIT + codegen
        res = probe_r13(spark)
        print(f"r13: {res}", flush=True)
        patch_r13_section(res)
        spark.stop()
    elif mode == "r13loop":
        spark = build_session("scale-probe-r13loop")
        spark.sparkContext.setLogLevel("ERROR")
        res = probe_r12_loop(spark)
        print(f"r13loop: {res}", flush=True)
        patch_r13_loop_section(res)
        spark.stop()
    else:
        main()
