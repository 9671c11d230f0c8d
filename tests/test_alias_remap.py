"""The pipeline and the incremental ingest remap through CC's alias map
(only the uuids that are in a duplicate pair), not the identity-padded
uuid_map. With coalesce(canonical, uuid) on every remap the two give the
same rows; these are the tests where names actually merge (the corpora's
closed vocabulary never produces an accepted pair), so they force the
pairs: a chain of three aliases and one more pair."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from graphiti_spark import pipeline
from graphiti_spark.config import RunConfig
from graphiti_spark.functions.smalldf import literal_df
from graphiti_spark.operators import cc, incremental
from graphiti_spark.operators.edges import (
    build_mention_edges,
    remap_uuids,
    triples_to_edges,
)
from graphiti_spark.operators.resolve import canonical_uuid_map
from graphiti_spark.operators.temporal import invalidate_cross_predicate
from scripts.verify_oracle import frame_hash

TS = datetime(2025, 3, 1, 12, 0, 0)
PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
    ("group_id", "string"),
    ("doc_id", "long"),
]
TEXTS = [
    "the fast table join big table",
    "big table merge slow table",
    "slow table scan small window",
    "small window filter big window",
    "spark sort fast table",
    "big window group spark",
]
# "fast table" - "big table" - "slow table" chain, plus one pair
MERGED = [("fast table", "big table"), ("big table", "slow table"),
          ("small window", "big window")]


def _pages(spark):
    return literal_df(
        spark,
        [(f"http://p{i}", TS, None, text, "en", "g", i)
         for i, text in enumerate(TEXTS)],
        PAGE_COLS,
    )


def _uuids(entities) -> dict:
    return {r.name: r.uuid for r in entities.select("name", "uuid").collect()}


def _pair_frame(spark, rows):
    return literal_df(spark, rows, [("src", "string"), ("dst", "string")])


def _forced_pairs(entities, dropped_sink=None):
    """The pairs of MERGED whose names are both in ``entities``, as
    duplicate_pairs returns them."""
    uuid = _uuids(entities)
    return _pair_frame(
        entities.sparkSession,
        [(uuid[a], uuid[b]) for a, b in MERGED if a in uuid and b in uuid],
    )


def _forced_pairs_between(new_entities, existing_entities, dropped_sink=None):
    """The pairs of MERGED with one name new and the other existing, as
    duplicate_pairs_between returns them."""
    new, old = _uuids(new_entities), _uuids(existing_entities)
    rows = [
        (new[x], old[y])
        for a, b in MERGED
        for x, y in ((a, b), (b, a))
        if x in new and y in old
    ]
    return _pair_frame(new_entities.sparkSession, rows)


def _force_merges(monkeypatch, regime):
    if regime == "distributed":
        monkeypatch.setattr(cc, "GATE", 0)
    monkeypatch.setattr(pipeline, "duplicate_pairs", _forced_pairs)
    monkeypatch.setattr(incremental, "duplicate_pairs", _forced_pairs)
    monkeypatch.setattr(
        incremental, "duplicate_pairs_between", _forced_pairs_between
    )


def _hinted_broadcast(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().optimizedPlan().toString()


def _hash(df) -> tuple[int, str]:
    rows = [tuple(r) for r in df.collect()]
    return len(rows), frame_hash(df.columns, rows)


def _full_map_outputs(out, run_ts) -> dict:
    """The full-map formulation: every remap through the identity-padded
    canonical_uuid_map."""
    full = canonical_uuid_map(out["entities"], out["pairs"])
    merged = triples_to_edges(out["triples"], full, run_ts)
    return {
        "uuid_map": full,
        "edges": invalidate_cross_predicate(merged, run_ts),
        "nodes": pipeline.build_nodes(out["entities"], full, merged, run_ts),
        "mention_edges": build_mention_edges(out["mentions"], full, run_ts),
    }


@pytest.mark.parametrize("regime", ["driver", "distributed"])
def test_alias_remap_equals_full_map(spark, monkeypatch, regime):
    _force_merges(monkeypatch, regime)
    seen = []

    def spy(mentions, uuid_map, run_ts):
        seen.append((mentions, uuid_map))
        return build_mention_edges(mentions, uuid_map, run_ts)

    monkeypatch.setattr(pipeline, "build_mention_edges", spy)
    cfg = RunConfig()
    out = pipeline.run_pipeline_from_pages(spark, _pages(spark), cfg)

    # the driver regime's alias map is local and its remap broadcasts
    # without a count job; above the gate the planner decides
    [(mentions, aliases)] = seen
    assert aliases.isLocal() == (regime == "driver")
    remapped = build_mention_edges(mentions, aliases, cfg.run_ts)
    assert _hinted_broadcast(remapped) == (regime == "driver")
    umap = {r.uuid: r.canonical_uuid for r in out["uuid_map"].collect()}
    assert len(umap) == out["entities"].count()
    assert sum(u != c for u, c in umap.items()) == 3  # two chain aliases + one
    want = _full_map_outputs(out, cfg.run_ts)
    for name, df in want.items():
        assert _hash(out[name]) == _hash(df), name


def test_driver_map_is_local_and_broadcast(spark, monkeypatch):
    """CC's driver regime returns a local alias map and remap_uuids
    hints its broadcast; the distributed regime's map is not local and
    is left to the planner."""
    pairs = _pair_frame(spark, [("b", "a"), ("c", "b")])
    df = spark.range(4).select(F.concat(F.lit("x"), F.col("id")).alias("u"))
    df = df.unionByName(literal_df(spark, [("c",)], [("u", "string")]))
    for gate, local in ((cc.GATE, True), (0, False)):
        monkeypatch.setattr(cc, "GATE", gate)
        aliases = cc.connected_components(pairs)
        assert aliases.isLocal() == local
        out = remap_uuids(df, "u", aliases, out="canon")
        assert _hinted_broadcast(out) == local
        got = {r.u: r.canon for r in out.collect()}
        assert got == {"x0": "x0", "x1": "x1", "x2": "x2", "x3": "x3", "c": "a"}


@pytest.mark.parametrize("regime", ["driver", "distributed"])
def test_incremental_merges_equal_batch(spark, monkeypatch, regime):
    """Merges forced through ingest_incremental. Batch A already merges
    "small window" with "big window"; batch B bridges "fast table" and
    "slow table" (both A canonicals) through "big table", so at least one
    prior canonical is re-pointed and its edges, node and mentions are
    rewritten. The merged graph hash-equals one batch over A ∪ B."""
    _force_merges(monkeypatch, regime)
    pages = _pages(spark)
    in_a = F.col("doc_id").isin(2, 4, 5)
    out_a = pipeline.run_pipeline_from_pages(spark, pages.filter(in_a), RunConfig())
    assert out_a["pairs"].count() == 1
    merged = incremental.ingest_incremental(spark, pages.filter(~in_a), out_a)
    assert merged["delta"]["mention_edges"]["deletes"].count() > 0  # re-pointed
    full = pipeline.run_pipeline_from_pages(spark, pages, RunConfig())
    umap = full["uuid_map"].filter(F.col("uuid") != F.col("canonical_uuid"))
    assert umap.count() == 3
    for name in ("edges", "nodes", "mention_edges"):
        assert _hash(merged[name]) == _hash(full[name]), name
