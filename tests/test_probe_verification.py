"""probe_with_index's verification on hand-built relations, against a
pure-Python reference of the d10/d11 oracle tail (_PROBE_ORACLE_TAIL).

Hand-built relations reach what a planted corpus rarely does: a
candidate pair that shares a band hash but no shingle, a batch that
repeats an id, a document too short to shingle, and two index documents
that tie for the best match."""

from __future__ import annotations

from collections import Counter

_T = 0.6  # pipeline.dedup._JACCARD_THRESHOLD

# index: id -> (shingle hashes, bands)
INDEX = {
    1: ({1, 2, 3, 4, 5}, {0: "a", 1: "b1", 2: "c1"}),
    2: ({1, 2, 3, 4, 5}, {0: "a", 1: "b2", 2: "c2"}),  # ties with 1
    3: ({100, 101, 102}, {0: "z", 1: "y", 2: "x"}),  # band collision only
    4: (set(range(1, 13)), {0: "a", 1: "b4", 2: "c4"}),  # candidate, below threshold
}
# batch rows: (id, text, shingle hashes, bands); a doc under 3 words has
# no shingles and so no sigs or bands
BATCH = [
    (10, "near duplicate of one and two", {1, 2, 3, 4, 5, 6}, {0: "a", 1: "q", 2: "r"}),
    (10, "near duplicate of one and two", {1, 2, 3, 4, 5, 6}, {0: "a", 1: "q", 2: "r"}),
    (12, "band collision with three", {200, 201}, {0: "m", 1: "n", 2: "x"}),
    (13, "two words", set(), {}),
]


def _reference() -> Counter:
    """One row per batch row: (batch_id, n_cand, n_match, match_id_min,
    best_jaccard, is_novel), as the DuckDB oracle tail computes it."""
    docs = {b: (h, bands) for b, _, h, bands in BATCH}
    out = Counter()
    for b, _, _, _ in BATCH:
        bh, bbands = docs[b]
        cand = {i for i, (_, ib) in INDEX.items() if set(ib.items()) & set(bbands.items())}
        verified = {}
        for i in cand:
            ih = INDEX[i][0]
            common = len(bh & ih)
            if common:
                jac = common / (len(bh) + len(ih) - common)
                if jac >= _T:
                    verified[i] = jac
        out[(
            b,
            len(cand),
            len(verified),
            min(verified) if verified else None,
            round(max(verified.values()), 6) if verified else None,
            not verified,
        )] += 1
    return out


def _frames(spark, docs):
    """(hashed, sigs, bands) frames for ``docs``: id -> (hashes, bands)."""
    hashed = spark.createDataFrame(
        [(i, h) for i, (hs, _) in docs.items() for h in sorted(hs)], "id long, h long"
    )
    sigs = spark.createDataFrame(
        [(i, *[0] * 6, len(hs)) for i, (hs, _) in docs.items() if hs],
        "id long, m0 long, m1 long, m2 long, m3 long, m4 long, m5 long, n_sh long",
    )
    bands = spark.createDataFrame(
        [(i, band, bh) for i, (_, bs) in docs.items() for band, bh in bs.items()],
        "id long, band int, bh string",
    )
    return hashed, sigs, bands


def test_probe_with_index_matches_reference(spark):
    from spark_sql_perf_spark.pipeline.dedup import probe_with_index

    want = _reference()
    # the cases the fixture exists for
    assert want[(10, 3, 2, 1, round(5 / 6, 6), False)] == 2  # repeat, tie -> min id
    assert want[(12, 1, 0, None, None, True)] == 1  # collision: n_cand only
    assert want[(13, 0, 0, None, None, True)] == 1  # unshingled: novel

    batch = spark.createDataFrame([(b, t) for b, t, _, _ in BATCH], "id long, text string")
    bframes = _frames(spark, {b: (h, bands) for b, _, h, bands in BATCH})
    got = probe_with_index(*_frames(spark, INDEX), batch, bframes=bframes)
    assert got.columns == [
        "batch_id", "n_cand", "n_match", "match_id_min", "best_jaccard", "is_novel"
    ]
    assert Counter(tuple(r) for r in got.collect()) == want
