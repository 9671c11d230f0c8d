"""Graph maintenance: keyset pagination, between-node lookups, episode removal
(SURVEY.md S5/S9).

Reference semantics:
  - get_by_group_ids keyset pagination: ``uuid < cursor ORDER BY uuid DESC
    LIMIT n`` (/root/reference/graphiti_core/nodes.py:510-588).
  - remove_episode cascade (/root/reference/graphiti_core/graphiti.py:1235-1263):
    delete edges whose FIRST provenance episode is the removed one
    (graphiti.py:1243-1246 `edge.episodes[0] == episode_uuid`), delete
    entity nodes mentioned ONLY by that episode (mention-count 1,
    graphiti.py:1252-1258), then the episode itself.

Spark formulation: anti-joins / filters — at Iceberg scale these become
``MERGE INTO ... WHEN MATCHED THEN DELETE`` over the same predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def get_by_group_ids(
    df: DataFrame,
    group_ids: list[str],
    limit: int | None = None,
    uuid_cursor: str | None = None,
) -> DataFrame:
    """S5 keyset pagination (reference nodes.py:510-588): filter groups,
    strictly-less-than cursor, ORDER BY uuid DESC LIMIT n."""
    out = df.filter(F.col("group_id").isin(group_ids))
    if uuid_cursor is not None:
        out = out.filter(F.col("uuid") < uuid_cursor)
    out = out.orderBy(F.col("uuid").desc())
    if limit is not None:
        out = out.limit(limit)
    return out


def get_between_nodes(edges: DataFrame, src_uuid: str, dst_uuid: str) -> DataFrame:
    """S5: edges between two nodes, either direction (reference
    edges.py:318-477 get_between_nodes)."""
    a, b = F.col("source_node_uuid"), F.col("target_node_uuid")
    return edges.filter(
        ((a == src_uuid) & (b == dst_uuid)) | ((a == dst_uuid) & (b == src_uuid))
    )


def remove_episode(
    edges: DataFrame,
    mention_edges: DataFrame,
    nodes: DataFrame,
    episode_uuid: str,
    episodes: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """S9 cascade delete. Returns surviving {edges, nodes, mentions} —
    plus {episodes} (minus the removed one) when the episodes table is
    passed, so the result map is a complete post-delete graph state.

    An edge is deleted iff it was CREATED by this episode (reference
    graphiti.py:1243-1246, ``edge.episodes[0] == episode_uuid``). The
    ``episodes`` arrays are ordered temporally (valid_at, then uuid —
    see triples_to_edges), so element 1 is the earliest-valid_at
    provenance episode, the batch equivalent of the reference's
    insertion-order head. A node is deleted iff its only mention comes
    from this episode (reference graphiti.py:1252-1258).
    """
    surviving_edges = edges.filter(
        F.coalesce(F.element_at("episodes", 1) != F.lit(episode_uuid), F.lit(True))
    )
    mention_counts = mention_edges.groupBy("entity_uuid").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.sum(
            F.when(F.col("episode_uuid") == episode_uuid, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_from_episode"),
    )
    doomed_nodes = mention_counts.filter(
        (F.col("n_mentions") == F.col("n_from_episode"))
        & (F.col("n_from_episode") > 0)
    ).select(F.col("entity_uuid").alias("uuid"))
    surviving_nodes = nodes.join(F.broadcast(doomed_nodes), "uuid", "left_anti")
    surviving_mentions = mention_edges.filter(F.col("episode_uuid") != episode_uuid)
    out = {
        "edges": surviving_edges,
        "nodes": surviving_nodes,
        "mentions": surviving_mentions,
    }
    if episodes is not None:
        out["episodes"] = episodes.filter(F.col("uuid") != episode_uuid)
    return out


def get_nodes_and_edges_by_episode(
    episode_uuids: list[str],
    mention_edges: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
) -> dict[str, DataFrame]:
    """The episode→subgraph fetch (reference
    graphiti.py:1155-1167 get_nodes_and_edges_by_episode): the canonical
    entity nodes the episodes mention, plus every edge carrying one of
    the episodes in its provenance array (the reference walks
    episode.entity_edges uuid lists; here provenance lives ON the edge
    as the `episodes` array, so the lookup is one array-overlap filter —
    at Iceberg scale a bloom/inverted index on the array column).

    The probe list is query-sized (user-supplied uuids), so the literal
    array stays a broadcast-free codegen predicate.
    """
    from graphiti_spark.search.graph import get_mentioned_nodes

    probe = F.array(*[F.lit(u) for u in episode_uuids])
    return {
        "nodes": get_mentioned_nodes(mention_edges, nodes, episode_uuids),
        "edges": edges.filter(F.arrays_overlap(F.col("episodes"), probe)),
    }


def get_episodes_by_mentions(
    edges: DataFrame, episodes: DataFrame, limit: int | None = None
) -> DataFrame:
    """The reverse of G8 — the episodes a set of edges cite as
    provenance (reference get_episodes_by_mentions,
    /root/reference/graphiti_core/search/search_utils.py:113-125: it
    concatenates each edge's ``episodes`` uuid list and fetches the
    first ``limit``). The batch twin explodes the provenance arrays of
    the GIVEN edges frame (callers pre-filter to their edge set, the
    equivalent of the reference's edge list argument), takes DISTINCT
    cited uuids, and semi-joins the episodes table — ordered by uuid
    (the engine's deterministic stand-in for Python list order) with
    the same ``limit`` cut.

    Scale shape: one explode + distinct over the CALLER'S edge subset
    (query-sized), then a semi-join into episodes — broadcastable
    whenever the probe set is small, no provenance scan of the full
    edge table."""
    cited = edges.select(F.explode("episodes").alias("uuid")).distinct()
    out = episodes.join(cited, "uuid", "left_semi").orderBy("uuid")
    if limit is not None:
        out = out.limit(limit)
    return out
