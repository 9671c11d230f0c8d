"""The pipeline remaps through CC's alias map (only the uuids that are in
a duplicate pair), not the identity-padded uuid_map. With coalesce(
canonical, uuid) on every remap the two give the same rows; this is the
one test where names actually merge (the corpora's closed vocabulary
never produces an accepted pair), so it forces the pairs: a chain of
three aliases and one more pair."""

from __future__ import annotations

from datetime import datetime

import pytest

from graphiti_spark import pipeline
from graphiti_spark.config import BROADCAST_MAP_MAX_ROWS, RunConfig
from graphiti_spark.functions.smalldf import literal_df
from graphiti_spark.operators import cc
from graphiti_spark.operators.edges import build_mention_edges, triples_to_edges
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


def _forced_pairs(entities, dropped_sink=None):
    """The accepted pairs MERGED, as duplicate_pairs returns them."""
    uuid = {r.name: r.uuid for r in entities.select("name", "uuid").collect()}
    return literal_df(
        entities.sparkSession,
        [(uuid[a], uuid[b]) for a, b in MERGED],
        [("src", "string"), ("dst", "string")],
    )


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
    if regime == "distributed":
        monkeypatch.setattr(cc, "GATE", 0)
    monkeypatch.setattr(pipeline, "duplicate_pairs", _forced_pairs)
    seen = []

    def spy(mentions, uuid_map, run_ts, map_is_small=None):
        seen.append(map_is_small)
        return build_mention_edges(mentions, uuid_map, run_ts, map_is_small)

    monkeypatch.setattr(pipeline, "build_mention_edges", spy)
    cfg = RunConfig()
    out = pipeline.run_pipeline_from_pages(spark, _pages(spark), cfg)

    # the driver regime broadcasts CC's local map without counting it;
    # above the gate the planner decides
    assert seen == ([True] if regime == "driver" else [None])
    umap = {r.uuid: r.canonical_uuid for r in out["uuid_map"].collect()}
    assert len(umap) == out["entities"].count()
    assert sum(u != c for u, c in umap.items()) == 3  # two chain aliases + one
    want = _full_map_outputs(out, cfg.run_ts)
    for name, df in want.items():
        assert _hash(out[name]) == _hash(df), name


def test_driver_map_fits_the_broadcast_bound():
    """map_is_small=True for every driver-regime map: its rows (one per
    node, at most one node per edge row) stay under the broadcast bound."""
    assert cc.GATE <= BROADCAST_MAP_MAX_ROWS
