"""The blocked-pair primitive (operators/blocking.py) against brute force.

Random small frames of (id, two-column key) rows, with keys shared by
several ids and ids under several keys, a random group cap and an
optional prefilter: the pairs must be exactly the id pairs a < b that
share a kept key and pass the prefilter, each once, and every group
above the cap must be reported with its size. The Jaccard length filter
the verify sites pass as their prefilter must never reject a pair the
verify keeps."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from graphiti_spark.functions.smalldf import literal_df
from graphiti_spark.operators.blocking import blocked_pairs

_rows = st.sets(
    st.tuples(st.integers(0, 9), st.integers(0, 1), st.integers(0, 2)),
    min_size=1,
    max_size=30,
)


def _prefilter_keeps(a, b):
    """Brute-force twin of the prefilter below: 10a + 10b ≢ 0 (mod 30)."""
    return (a + b) % 3 != 0


def _brute_force(rows, cap, prefilter=False):
    sizes = Counter((k1, k2) for _, k1, k2 in rows)
    kept = {k for k, n in sizes.items() if cap is None or n <= cap}
    pairs = {
        (a, b)
        for a, ak1, ak2 in rows
        for b, bk1, bk2 in rows
        if a < b and (ak1, ak2) == (bk1, bk2) and (ak1, ak2) in kept
        and (not prefilter or _prefilter_keeps(a, b))
    }
    dropped = {(k1, k2, n) for (k1, k2), n in sizes.items() if (k1, k2) not in kept}
    return pairs, dropped


@given(
    rows=_rows,
    cap=st.one_of(st.none(), st.integers(1, 6)),
    prefilter=st.booleans(),
)
@settings(max_examples=6, derandomize=True, deadline=None)
def test_blocked_pairs_match_brute_force(spark, rows, cap, prefilter):
    df = literal_df(
        spark, sorted(rows), [("id", "bigint"), ("k1", "int"), ("k2", "int")]
    ).withColumn("p", F.col("id") * 10)
    pred = (F.col("a_p") + F.col("b_p")) % 30 != 0 if prefilter else None
    pairs, dropped = blocked_pairs(df, ["k1", "k2"], "id", ["p"], cap, pred)
    want_pairs, want_dropped = _brute_force(rows, cap, prefilter)

    assert pairs.columns == ["a_id", "a_p", "b_id", "b_p"]
    got = pairs.collect()
    assert len(got) == len(want_pairs)  # distinct on the id pair
    assert {(r.a_id, r.b_id) for r in got} == want_pairs
    assert all(r.a_p == 10 * r.a_id and r.b_p == 10 * r.b_id for r in got)
    if cap is None:
        assert dropped is None
    else:
        assert {(r.k1, r.k2, r.bucket_n) for r in dropped.collect()} == want_dropped


_THRESHOLDS = (0.5, 0.8, 0.9, 0.95)
# distinct shingles from a small alphabet, so random pairs overlap
_shingle_sets = st.sets(st.sampled_from([f"s{i}" for i in range(12)]), max_size=12)


def _edge_pairs():
    """Hand-built (a, b, t) at the bound's edges, with A ⊂ B so that
    J = |A|/|B| equals the size ratio: the ratio exactly t, and J just
    under t with round(J, 4) == t (968/1019 = 0.949951)."""
    sh = [f"e{i}" for i in range(1019)]
    exact = [(sh[:n], sh[: round(n / t)], t) for n, t in
             ((1, 0.5), (4, 0.8), (9, 0.9), (19, 0.95))]
    return [*exact, (sh[:968], sh, 0.95), ([], [], 0.95), ([], sh[:1], 0.5)]


@given(cases=st.lists(
    st.tuples(_shingle_sets, _shingle_sets, st.sampled_from(_THRESHOLDS)),
    min_size=1,
    max_size=40,
))
@settings(max_examples=10, derandomize=True, deadline=None)
def test_jaccard_size_bound_never_rejects_a_kept_pair(spark, cases):
    """The length filter is a necessary condition of both verify forms
    in use, round(J, 4) ≥ t and J ≥ t, including at the rounding edge."""
    from graphiti_spark.functions.dedup_text import jaccard_col, jaccard_size_bound

    rows = [(sorted(a), sorted(b), t) for a, b, t in cases] + _edge_pairs()
    df = spark.createDataFrame(rows, "a array<string>, b array<string>, t double")
    j = jaccard_col(F.col("a"), F.col("b"))
    bounds = [
        jaccard_size_bound(F.col("a"), F.col("b"), t).alias(f"bound{i}")
        for i, t in enumerate(_THRESHOLDS)
    ]
    got = df.select(j.alias("j"), F.round(j, 4).alias("j4"), "t", *bounds).collect()
    assert len(got) == len(rows)
    for r in got:
        if r.j4 >= r.t or r.j >= r.t:
            assert r[f"bound{_THRESHOLDS.index(r.t)}"], r
    # the edge pairs are kept by the rounded verify, one of them only by it
    edges = got[len(cases):]
    assert all(r.j4 >= r.t for r in edges[:-1]) and not edges[-1].j4
    assert edges[4].j < 0.95 and edges[4].j4 == 0.95


def test_duplicate_pairs_cap_drops_and_reports(spark, monkeypatch):
    """Entity resolution's bucket cap: above it the shared buckets give
    no pair and each appears in the dropped frame with its size."""
    from graphiti_spark.operators import resolve

    ents = literal_df(
        spark,
        [("u1", "g", "acme corporation"), ("u2", "g", "Acme Corporation")],
        [("uuid", "string"), ("group_id", "string"), ("name", "string")],
    )
    candidates = []
    monkeypatch.setattr(
        resolve, "_score_candidate_pairs", lambda pairs: candidates.append(pairs) or pairs
    )
    resolve.duplicate_pairs(ents)
    assert {(r.a_uuid, r.b_uuid) for r in candidates[-1].collect()} == {("u1", "u2")}

    monkeypatch.setattr(resolve, "MAX_BUCKET_SIZE", 1)
    sink: list = []
    resolve.duplicate_pairs(ents, dropped_sink=sink)
    assert candidates[-1].isEmpty()
    dropped = sink[0].collect()
    assert dropped and all(r.bucket_n == 2 for r in dropped)


def test_score_candidate_pairs_matches_d7_d8_rule(spark):
    """Single-pass scoring equals the D7/D8' rule applied by hand:
    accept Jaccard ≥ 0.9, or 0.5 ≤ Jaccard with embedding cosine
    ≥ 0.95. Shingles are hand-built so each Jaccard band is pinned
    independently of the names that drive the cosine."""
    from graphiti_spark.config import (
        EMBED_COSINE_THRESHOLD,
        FUZZY_JACCARD_THRESHOLD,
    )
    from graphiti_spark.functions.embed import cosine, embed_text
    from graphiti_spark.operators import resolve

    def sh(n, lo=0):  # n distinct shingles, ids lo..lo+n-1
        return [f"s{i}" for i in range(lo, lo + n)]

    same = ("Acme Corporation", "acme corporation")
    other = ("Acme Corporation", "Zenith Bank")
    cases = [
        # (a_uuid, b_uuid, (a_name, b_name), a_shingles, b_shingles)
        ("j10", "x", other, sh(4), sh(4)),  # j = 1.0, cosine low
        ("j09", "x", other, sh(9), sh(10)),  # j = 0.9 exactly
        ("jmid_hi", "x", same, sh(6), sh(6, 2)),  # j = 0.5, cosine 1.0
        ("jmid_lo", "x", other, sh(6), sh(6, 2)),  # j = 0.5, cosine low
        ("jlow_hi", "x", same, sh(4), sh(4, 3)),  # j = 1/7, cosine 1.0
        ("empty_mid", "x", ("", "acme corporation"), sh(6), sh(6, 2)),
        ("empty_hi", "x", ("", "acme corporation"), sh(4), sh(4)),
    ]
    pairs = spark.createDataFrame(
        [(a, n[0], sa, b, n[1], sb) for a, b, n, sa, sb in cases],
        "a_uuid string, a_name string, a_shingles array<string>, "
        "b_uuid string, b_name string, b_shingles array<string>",
    )

    def accepted_by_hand(names, sa, sb):
        j = len(set(sa) & set(sb)) / len(set(sa) | set(sb))
        if j >= FUZZY_JACCARD_THRESHOLD:
            return True
        ea, eb = (embed_text(n) for n in names)
        if j < 0.5 or ea is None or eb is None:
            return False
        return cosine(ea, eb) >= EMBED_COSINE_THRESHOLD

    want = {(a, b) for a, b, n, sa, sb in cases if accepted_by_hand(n, sa, sb)}
    got = resolve._score_candidate_pairs(pairs).collect()
    assert len(got) == len(want)  # one row per pair, no distinct needed
    assert {(r.src, r.dst) for r in got} == want
    assert want == {("j10", "x"), ("j09", "x"), ("jmid_hi", "x"), ("empty_hi", "x")}
