"""Connected-components canonicalization (SURVEY.md D13/D14): ported
union-find vectors from the reference tests
(tests/utils/maintenance/test_bulk_utils.py:189-214) + convergence.

Every case runs both regimes of ``connected_components``: the driver
union-find (the default gate) and the distributed star fixpoint (gate
forced to 0), and requires the same mapping from each."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from graphiti_spark.functions.smalldf import literal_df
from graphiti_spark.operators import cc


def _pairs(spark, pairs):
    return literal_df(spark, pairs, [("src", "string"), ("dst", "string")])


def _both_regimes(spark, pairs) -> dict:
    """connected_components over ``pairs`` under each regime, as the
    callers use it: every node of the pairs left-joined to the mapping
    with coalesce(canonical, own). Returns the one mapping both agree on."""
    df = _pairs(spark, pairs)
    nodes = (
        df.select(F.col("src").alias("uuid"))
        .union(df.select(F.col("dst").alias("uuid")))
        .distinct()
    )
    default = cc.GATE
    maps = {}
    try:
        for regime, gate in (("driver", default), ("distributed", 0)):
            cc.GATE = gate
            mapping = nodes.join(cc.connected_components(df), "uuid", "left")
            maps[regime] = {
                r.uuid: r.canonical_uuid
                for r in mapping.select(
                    "uuid", F.coalesce("canonical_uuid", "uuid").alias("canonical_uuid")
                ).collect()
            }
    finally:
        cc.GATE = default
    assert maps["driver"] == maps["distributed"]
    return maps["driver"]


def test_directed_chain_collapses(spark):
    # reference vector: a→b, b→c ⇒ map a→c, b→c … with min-uuid root the
    # canonical is 'a' (deterministic-id convention, cc.py docstring)
    out = _both_regimes(spark, [("a", "b"), ("b", "c")])
    assert out == {"a": "a", "b": "a", "c": "a"}


def test_two_components_min_root(spark):
    out = _both_regimes(spark, [("n4", "n2"), ("n2", "n9"), ("x2", "x1")])
    assert out["n4"] == out["n2"] == out["n9"] == "n2"
    assert out["x1"] == out["x2"] == "x1"


def test_long_path_converges(spark):
    # path of 40 nodes exercises the logarithmic star iterations
    nodes = [f"v{i:02d}" for i in range(40)]
    mapping = _both_regimes(spark, list(zip(nodes[:-1], nodes[1:])))
    assert set(mapping.values()) == {"v00"}
    assert len(mapping) == 40


def test_empty_pairs(spark, monkeypatch):
    """No pairs → an empty LOCAL mapping, so a caller's left join onto it
    plans away (onto a Range(0) mapping it would run a broadcast job)."""
    nodes = spark.range(3).select(F.col("id").cast("string").alias("uuid"))
    for gate in (cc.GATE, 0):
        monkeypatch.setattr(cc, "GATE", gate)
        mapping = cc.connected_components(_pairs(spark, []))
        assert mapping.count() == 0
        assert mapping.isLocal()
        joined = nodes.join(F.broadcast(mapping), "uuid", "left")
        assert "Join" not in joined._jdf.queryExecution().optimizedPlan().toString()


# unpadded ids: string order ("n10" < "n9") differs from numeric order
_ids = st.integers(0, 30).map(lambda i: f"n{i}")
_chain = st.lists(_ids, min_size=2, max_size=8, unique=True).map(
    lambda xs: list(zip(xs, xs[1:]))
)
_star = st.tuples(_ids, st.lists(_ids, min_size=1, max_size=6)).map(
    lambda t: [(t[0], x) for x in t[1]]
)
_bridged = st.tuples(_chain, _chain).map(
    lambda ab: ab[0] + ab[1] + [(ab[0][-1][1], ab[1][0][0])]
)


@st.composite
def _graphs(draw):
    blocks = draw(st.lists(st.one_of(_chain, _star, _bridged), min_size=1, max_size=4))
    pairs = [p for block in blocks for p in block]
    extra = draw(st.lists(st.sampled_from(pairs), max_size=4))
    flips = draw(st.lists(st.sampled_from(pairs), max_size=4))
    return pairs + extra + [(b, a) for a, b in flips]


def _min_id_components(pairs) -> dict:
    """Brute force: label every node with the minimum id reachable."""
    label = {n: n for p in pairs for n in p}
    changed = True
    while changed:
        changed = False
        for a, b in pairs:
            if label[a] != label[b]:
                label[a] = label[b] = min(label[a], label[b])
                changed = True
    return label


@given(pairs=_graphs())
@settings(max_examples=5, derandomize=True, deadline=None)
def test_regimes_agree_on_random_graphs(spark, pairs):
    assert _both_regimes(spark, pairs) == _min_id_components(pairs)


def test_dup_rate_by_group_arithmetic(spark):
    """Host with 4 docs in 2 clusters → dup_rate 0.5; singleton-only
    host → 0.0."""
    from graphiti_spark.operators.dedup_docs import dup_rate_by_group

    canon = literal_df(
        spark,
        [
            (1, 1, "farm.com"), (2, 1, "farm.com"),
            (3, 3, "farm.com"), (4, 3, "farm.com"),
            (5, 5, "fresh.org"), (6, 6, "fresh.org"),
        ],
        [("id", "bigint"), ("canonical_id", "bigint"), ("host", "string")],
    )
    got = {
        r["host"]: (r["n_docs"], r["n_clusters"], r["dup_rate"])
        for r in dup_rate_by_group(canon).collect()
    }
    assert got == {"farm.com": (4, 2, 0.5), "fresh.org": (2, 2, 0.0)}
