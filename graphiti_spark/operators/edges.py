"""Edge construction: pointer remap, exact dedup, provenance merge
(SURVEY.md D15/D17, S7) and the MENTIONS episodic edges.

Reference semantics:
  - resolve_edge_pointers (bulk_utils.py:541-548): rewrite src/dst uuids
    through the canonical map → two left joins + coalesce.
  - edge exact-dup fast path (edge_operations.py:479-493): same endpoints
    + equal normalized fact → ONE edge, episode uuids unioned
    (tests/utils/maintenance/test_edge_operations.py:107-152).
  - deterministic edge identity: uuid = sha256(group|src|dst|pred|fact_norm).

Every alias-map remap in the engine (edge endpoints, mention edges,
nodes, the identity-padded uuid_map, the incremental batch) goes through
``remap_uuids``, which alone decides the join's broadcast.

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


def remap_uuids(
    df: DataFrame, col: str, aliases: DataFrame, out: str | None = None
) -> DataFrame:
    """``df`` with ``out`` (default: ``col`` itself) set to
    coalesce(canonical_uuid, ``col``): a left join of the alias map
    (uuid, canonical_uuid) on ``col``, so a uuid missing from the map
    maps to itself. The map may be CC's aliases or any identity-padded
    uuid_map; both give the same rows.

    The map is broadcast exactly when it is a local relation. CC's
    driver regime returns one of at most cc.GATE rows, sized by its own
    bounded collect, so no count job decides the strategy; an empty one
    plans the join away. Any other map (CC's distributed regime, a
    loaded table; at web scale 10^8+ rows) is left to Catalyst
    statistics + AQE, which shuffle-join on the uniform sha256 uuid (no
    hot key). The hint matters on short pipelines: AQE's runtime
    conversion still pays the map stage of the planned shuffle.
    Asserted both ways in tests/test_alias_remap.py."""
    canon = aliases.select(
        F.col("uuid").alias(col), F.col("canonical_uuid").alias("__canon")
    )
    if aliases.isLocal():
        canon = F.broadcast(canon)
    return (
        df.join(canon, col, "left")
        .withColumn(out or col, F.coalesce("__canon", col))
        .drop("__canon")
    )


def edge_provenance_rows(triples: DataFrame, uuid_map: DataFrame) -> DataFrame:
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
        with_ids, uuid_map, src="src_raw", dst="dst_raw"
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
    triples: DataFrame, uuid_map: DataFrame, run_ts
) -> DataFrame:
    """Extracted triples + canonical uuid_map → merged canonical edges.

    triples: (episode_uuid, group_id, valid_at, subj_name, pred, obj_name, fact)
    uuid_map: (uuid, canonical_uuid)
    """
    return merge_edge_rows(edge_provenance_rows(triples, uuid_map), run_ts)


def resolve_edge_pointers(
    edges: DataFrame, uuid_map: DataFrame, src: str = "source_node_uuid",
    dst: str = "target_node_uuid",
) -> DataFrame:
    """Rewrite edge endpoints through the canonical map (D15): one
    remap_uuids per endpoint."""
    return remap_uuids(remap_uuids(edges, src, uuid_map), dst, uuid_map)


def build_mention_edges(
    mentions: DataFrame, uuid_map: DataFrame, run_ts
) -> DataFrame:
    """MENTIONS episodic edges (reference edge_operations.py:51-68):
    (episode → canonical entity), distinct, deterministic uuids."""
    with_entity = mentions.select(
        "episode_uuid",
        "group_id",
        ids.entity_uuid_col(
            F.col("group_id"), normalize_string_exact_col(F.col("name"))
        ).alias("entity_uuid"),
    )
    return rebuild_mention_edges(
        remap_uuids(with_entity, "entity_uuid", uuid_map), run_ts
    )


def rebuild_mention_edges(pairs: DataFrame, run_ts) -> DataFrame:
    """(episode_uuid, group_id, entity_uuid) rows → MENTIONS edges,
    distinct, with recomputed deterministic uuids."""
    distinct = pairs.select("episode_uuid", "group_id", "entity_uuid").distinct()
    return distinct.select(
        ids.mention_uuid_col(F.col("episode_uuid"), F.col("entity_uuid")).alias("uuid"),
        "group_id",
        "episode_uuid",
        "entity_uuid",
        F.lit(run_ts).alias("created_at"),
    )
