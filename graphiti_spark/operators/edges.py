"""Edge construction: pointer remap, exact dedup, provenance merge
(SURVEY.md D15/D17, S7) and the MENTIONS episodic edges.

Reference semantics:
  - resolve_edge_pointers (bulk_utils.py:541-548): rewrite src/dst uuids
    through the canonical uuid_map → two left joins + coalesce.
  - edge exact-dup fast path (edge_operations.py:479-493): same endpoints
    + equal normalized fact → ONE edge, episode uuids unioned
    (tests/utils/maintenance/test_edge_operations.py:107-152).
  - deterministic edge identity: uuid = sha256(group|src|dst|pred|fact_norm).

Scale: the merge groupBy key includes fact_norm → high cardinality, no
hub-entity hot key; map-side partial aggregation applies. episodes arrays
are sorted for run-to-run determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphiti_spark import ids
from graphiti_spark.functions.dedup_text import normalize_string_exact_col
from graphiti_spark.functions.embed import make_embed_udf


def edge_provenance_rows(
    triples: DataFrame, uuid_map: DataFrame, map_is_small: bool | None = None
) -> DataFrame:
    """Pre-aggregation edge rows, one per (triple, provenance episode):
    (group_id, source_node_uuid, target_node_uuid, name, fact, fact_norm,
    episode_uuid, ep_valid_at). Endpoints are canonicalized through
    uuid_map. This is the exchange format shared by batch mode
    (triples→rows) and incremental mode (prior edges exploded back to
    rows + new-batch rows), so both aggregate through one merger."""
    with_ids = triples.select(
        "episode_uuid",
        "group_id",
        "valid_at",
        "pred",
        "fact",
        ids.entity_uuid_col(
            F.col("group_id"), normalize_string_exact_col(F.col("subj_name"))
        ).alias("src_raw"),
        ids.entity_uuid_col(
            F.col("group_id"), normalize_string_exact_col(F.col("obj_name"))
        ).alias("dst_raw"),
    )
    remapped = resolve_edge_pointers(
        with_ids, uuid_map, src="src_raw", dst="dst_raw",
        map_is_small=map_is_small,
    )
    return remapped.select(
        "group_id",
        F.col("src_raw").alias("source_node_uuid"),
        F.col("dst_raw").alias("target_node_uuid"),
        F.col("pred").alias("name"),
        "fact",
        normalize_string_exact_col(F.col("fact")).alias("fact_norm"),
        "episode_uuid",
        F.col("valid_at").alias("ep_valid_at"),
    )


def merge_edge_rows(rows: DataFrame, run_ts) -> DataFrame:
    """Provenance rows → merged canonical edges (D17): exact dedup on
    (group, src, dst, pred, fact_norm) with episode union."""
    merged = rows.groupBy(
        "group_id",
        "source_node_uuid",
        "target_node_uuid",
        "name",
        "fact_norm",
    ).agg(
        F.min("fact").alias("fact"),
        # Provenance ordered TEMPORALLY (valid_at, then uuid for ties):
        # episodes[0] is the CREATING episode (reference
        # graphiti.py:1243-1246 relies on insertion order; batch mode's
        # equivalent of insertion order is episode valid_at order).
        F.transform(
            F.array_sort(
                F.collect_set(F.struct(F.col("ep_valid_at"), F.col("episode_uuid")))
            ),
            lambda s: s["episode_uuid"],
        ).alias("episodes"),
        F.min("ep_valid_at").alias("valid_at"),
    )
    embed_udf = make_embed_udf()
    return merged.select(
        ids.edge_uuid_col(
            F.col("group_id"),
            F.col("source_node_uuid"),
            F.col("target_node_uuid"),
            F.col("name"),
            F.col("fact_norm"),
        ).alias("uuid"),
        "group_id",
        "source_node_uuid",
        "target_node_uuid",
        "name",
        "fact",
        # E9: deterministic fact embedding, one Arrow pass post-merge
        # (reference create_entity_edge_embeddings, edges.py:623-631)
        embed_udf(F.col("fact")).alias("fact_embedding"),
        "episodes",
        F.lit(run_ts).alias("created_at"),
        "valid_at",
    )


def triples_to_edges(
    triples: DataFrame, uuid_map: DataFrame, run_ts,
    map_is_small: bool | None = None,
) -> DataFrame:
    """Extracted triples + canonical uuid_map → merged canonical edges.

    triples: (episode_uuid, group_id, valid_at, subj_name, pred, obj_name, fact)
    uuid_map: (uuid, canonical_uuid)
    """
    return merge_edge_rows(
        edge_provenance_rows(triples, uuid_map, map_is_small), run_ts
    )


def resolve_edge_pointers(
    edges: DataFrame, uuid_map: DataFrame, src: str = "source_node_uuid",
    dst: str = "target_node_uuid", map_is_small: bool | None = None,
) -> DataFrame:
    """Rewrite edge endpoints through the canonical map (D15): two left
    joins + coalesce(canonical, original).

    Broadcast is SIZE-GATED, never unconditional: at web scale the map
    exceeds driver memory. The batch pipeline remaps through CC's alias
    map and passes ``map_is_small`` when CC's bounded collect took the
    driver regime (at most cc.GATE rows, no count job); the incremental
    path passes it from its delta map's row count
    (config.BROADCAST_MAP_MAX_ROWS). Without that knowledge (None) the
    decision is left to Catalyst statistics + AQE, which falls back to
    shuffle joins keyed on the endpoint uuid (uniform sha256 — no hot
    key). Asserted both ways in tests/test_plans.py. The explicit hint
    matters on short pipelines: AQE's runtime conversion still pays the
    map-stage materialization of the planned shuffle."""
    bmap = F.broadcast(uuid_map) if map_is_small else uuid_map

    out = (
        edges.join(
            bmap.select(
                F.col("uuid").alias(src), F.col("canonical_uuid").alias("__src_canon")
            ),
            src,
            "left",
        )
        .withColumn(src, F.coalesce("__src_canon", src))
        .drop("__src_canon")
    )
    out = (
        out.join(
            bmap.select(
                F.col("uuid").alias(dst), F.col("canonical_uuid").alias("__dst_canon")
            ),
            dst,
            "left",
        )
        .withColumn(dst, F.coalesce("__dst_canon", dst))
        .drop("__dst_canon")
    )
    return out


def build_mention_edges(
    mentions: DataFrame, uuid_map: DataFrame, run_ts,
    map_is_small: bool | None = None,
) -> DataFrame:
    """MENTIONS episodic edges (reference edge_operations.py:51-68):
    (episode → canonical entity), distinct, deterministic uuids."""
    with_entity = mentions.select(
        "episode_uuid",
        "group_id",
        ids.entity_uuid_col(
            F.col("group_id"), normalize_string_exact_col(F.col("name"))
        ).alias("entity_raw"),
    )
    bmap = F.broadcast(uuid_map) if map_is_small else uuid_map
    remapped = (
        with_entity.join(
            bmap.select(
                F.col("uuid").alias("entity_raw"),
                F.col("canonical_uuid").alias("entity_uuid"),
            ),
            "entity_raw",
            "left",
        )
        .select(
            "episode_uuid",
            "group_id",
            F.coalesce("entity_uuid", "entity_raw").alias("entity_uuid"),
        )
        .distinct()
    )
    return remapped.select(
        ids.mention_uuid_col(F.col("episode_uuid"), F.col("entity_uuid")).alias("uuid"),
        "group_id",
        "episode_uuid",
        "entity_uuid",
        F.lit(run_ts).alias("created_at"),
    )
