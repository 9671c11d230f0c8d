"""The blocked-pair primitive (operators/blocking.py) against brute force.

Random small frames of (id, two-column key) rows, with keys shared by
several ids and ids under several keys, and a random group cap: the
pairs must be exactly the id pairs a < b that share a kept key, each
once, and every group above the cap must be reported with its size."""

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


def _brute_force(rows, cap):
    sizes = Counter((k1, k2) for _, k1, k2 in rows)
    kept = {k for k, n in sizes.items() if cap is None or n <= cap}
    pairs = {
        (a, b)
        for a, ak1, ak2 in rows
        for b, bk1, bk2 in rows
        if a < b and (ak1, ak2) == (bk1, bk2) and (ak1, ak2) in kept
    }
    dropped = {(k1, k2, n) for (k1, k2), n in sizes.items() if (k1, k2) not in kept}
    return pairs, dropped


@given(rows=_rows, cap=st.one_of(st.none(), st.integers(1, 6)))
@settings(max_examples=5, derandomize=True, deadline=None)
def test_blocked_pairs_match_brute_force(spark, rows, cap):
    df = literal_df(
        spark, sorted(rows), [("id", "bigint"), ("k1", "int"), ("k2", "int")]
    ).withColumn("p", F.col("id") * 10)
    pairs, dropped = blocked_pairs(df, ["k1", "k2"], "id", ["p"], cap)
    want_pairs, want_dropped = _brute_force(rows, cap)

    assert pairs.columns == ["a_id", "a_p", "b_id", "b_p"]
    got = pairs.collect()
    assert len(got) == len(want_pairs)  # distinct on the id pair
    assert {(r.a_id, r.b_id) for r in got} == want_pairs
    assert all(r.a_p == 10 * r.a_id and r.b_p == 10 * r.b_id for r in got)
    if cap is None:
        assert dropped is None
    else:
        assert {(r.k1, r.k2, r.bucket_n) for r in dropped.collect()} == want_dropped


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
