"""Hybrid search driver (SURVEY.md Q1) — the Spark twin of
`search()` (/root/reference/graphiti_core/search/search.py:68-183) with
the reference's recipe structure (search_config_recipes.py:34-223).

A SearchConfig names, per channel (edges / nodes / episodes /
communities), which retrieval methods run (bm25 | cosine | bfs) and
which reranker fuses them (rrf | mmr | node_distance |
episode_mentions | cross_encoder-stub). Each method over-fetches
2×limit before rerank (reference search.py:206).

The graph tables are DataFrames; the query embedding is computed once
(reference search.py:88-109) with the frozen hash embedder.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphiti_spark.config import DEFAULT_SEARCH_LIMIT
from graphiti_spark.functions.embed import embed_text
from graphiti_spark.search.filters import SearchFilters, apply_filters
from graphiti_spark.search.fulltext import bm25_search, build_postings
from graphiti_spark.search.fuse import mmr_rerank, rrf, token_overlap_rerank
from graphiti_spark.search.graph import (
    bfs_edges,
    bfs_nodes,
    episode_mentions_rerank,
    node_distance_rerank,
)
from graphiti_spark.search.similarity import cosine_topk


@dataclass
class ChannelConfig:
    methods: list[str] = field(default_factory=lambda: ["bm25", "cosine"])
    reranker: str = "rrf"


@dataclass
class SearchConfig:
    edges: ChannelConfig | None = None
    nodes: ChannelConfig | None = None
    episodes: ChannelConfig | None = None
    communities: ChannelConfig | None = None
    limit: int = DEFAULT_SEARCH_LIMIT


def _edge(rr, methods=("bm25", "cosine")):
    return SearchConfig(edges=ChannelConfig(list(methods), rr))
def _node(rr, methods=("bm25", "cosine")):
    return SearchConfig(nodes=ChannelConfig(list(methods), rr))
def _comm(rr, limit=DEFAULT_SEARCH_LIMIT):
    # every reference community recipe is bm25 + cosine over
    # CommunityNode.name_embedding (search_config_recipes.py:201-223)
    return SearchConfig(
        communities=ChannelConfig(["bm25", "cosine"], rr), limit=limit
    )


# The reference's 17 canned recipes (search_config_recipes.py:34-223),
# same names, deterministic rerankers (cross_encoder = token-overlap
# stub). The cross_encoder recipes carry bfs as a THIRD retrieval
# method (search_config_recipes.py:84-97,143-149,188-194) — inert until
# the caller passes origin_uuids, exactly like the reference's
# bfs_origin_node_uuids.
EDGE_HYBRID_SEARCH_RRF = _edge("rrf")
EDGE_HYBRID_SEARCH_MMR = _edge("mmr")
EDGE_HYBRID_SEARCH_NODE_DISTANCE = _edge("node_distance")
EDGE_HYBRID_SEARCH_EPISODE_MENTIONS = _edge("episode_mentions")
EDGE_HYBRID_SEARCH_CROSS_ENCODER = _edge(
    "cross_encoder", ("bm25", "cosine", "bfs")
)
NODE_HYBRID_SEARCH_RRF = _node("rrf")
NODE_HYBRID_SEARCH_MMR = _node("mmr")
NODE_HYBRID_SEARCH_NODE_DISTANCE = _node("node_distance")
NODE_HYBRID_SEARCH_EPISODE_MENTIONS = _node("episode_mentions")
NODE_HYBRID_SEARCH_CROSS_ENCODER = _node(
    "cross_encoder", ("bm25", "cosine", "bfs")
)
COMMUNITY_HYBRID_SEARCH_RRF = _comm("rrf")
COMMUNITY_HYBRID_SEARCH_MMR = _comm("mmr")
# the reference caps this recipe at 3 (search_config_recipes.py:217-223)
COMMUNITY_HYBRID_SEARCH_CROSS_ENCODER = _comm("cross_encoder", limit=3)
EPISODE_HYBRID_SEARCH_RRF = SearchConfig(episodes=ChannelConfig(["bm25"], "rrf"))
COMBINED_HYBRID_SEARCH_RRF = SearchConfig(
    edges=ChannelConfig(["bm25", "cosine"], "rrf"),
    nodes=ChannelConfig(["bm25", "cosine"], "rrf"),
    episodes=ChannelConfig(["bm25"], "rrf"),
    communities=ChannelConfig(["bm25", "cosine"], "rrf"),
)
COMBINED_HYBRID_SEARCH_MMR = SearchConfig(
    edges=ChannelConfig(["bm25", "cosine"], "mmr"),
    nodes=ChannelConfig(["bm25", "cosine"], "mmr"),
    episodes=ChannelConfig(["bm25"], "rrf"),
    communities=ChannelConfig(["bm25", "cosine"], "mmr"),
)
COMBINED_HYBRID_SEARCH_CROSS_ENCODER = SearchConfig(
    edges=ChannelConfig(["bm25", "cosine", "bfs"], "cross_encoder"),
    nodes=ChannelConfig(["bm25", "cosine", "bfs"], "cross_encoder"),
    episodes=ChannelConfig(["bm25"], "cross_encoder"),
    communities=ChannelConfig(["bm25", "cosine"], "cross_encoder"),
)


def _channel(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    vec_col: str | None,
    query: str,
    query_vec: list[float] | None,
    cfg: ChannelConfig,
    limit: int,
    edges: DataFrame | None = None,
    mention_edges: DataFrame | None = None,
    center_uuid: str | None = None,
    origin_uuids: list[str] | None = None,
    prebuilt_index: dict | None = None,
    bfs_kind: str = "edges",
) -> DataFrame:
    overfetch = 2 * limit  # reference search.py:206
    ranked = []
    for method in cfg.methods:
        if method == "bm25":
            # materialized index when the graph carries one — a query
            # must never re-tokenize the corpus; build_postings is the
            # ad-hoc fallback for index-less inputs
            idx = prebuilt_index or build_postings(corpus, id_col, text_col)
            ranked.append(bm25_search(idx, query.split(), limit=overfetch))
        elif method == "cosine" and vec_col is not None and query_vec is not None:
            ranked.append(
                cosine_topk(
                    corpus, query_vec, id_col=id_col, vec_col=vec_col,
                    limit=overfetch, min_score=None,
                )
            )
        elif method == "bfs" and edges is not None and origin_uuids:
            # the BFS arm must return ids FROM THIS CHANNEL'S corpus:
            # nodes-channel bfs = reachable ENTITY uuids at depth >= 1
            # (reference node_bfs_search, search_utils.py:767-852,
            # matches *1..depth — origins excluded); edges-channel bfs =
            # edges walked (edge_bfs_search). Dispatching bfs_edges for
            # both would fuse edge uuids into a node ranking
            # (VERDICT r03 missing #2).
            if bfs_kind == "nodes":
                reach = bfs_nodes(edges, origin_uuids).filter(
                    F.col("depth") >= 1
                )
            else:
                reach = bfs_edges(edges, origin_uuids)
            hits = reach.select(
                F.col("uuid").alias("id"), F.lit(0.0).alias("score")
            )
            from pyspark.sql import Window

            # limit first: the unpartitioned rank window then sees at
            # most `overfetch` rows, never the whole reachable set
            w = Window.orderBy(F.col("id"))
            ranked.append(
                hits.orderBy("id").limit(overfetch)
                .select("id", "score", F.row_number().over(w).alias("rank"))
            )
    if not ranked:
        raise ValueError(f"no usable methods in {cfg.methods}")

    # rrf is both a reranker and the cross-channel fusion for every other
    # reranker (which re-scores the 2×limit fused pool).
    fused = rrf(ranked, limit=limit if cfg.reranker == "rrf" else 2 * limit)

    if cfg.reranker == "rrf":
        return fused
    if cfg.reranker == "mmr" and vec_col is not None and query_vec is not None:
        cands = fused.join(
            corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            "id",
        )
        return mmr_rerank(cands, query_vec, limit=limit)
    if cfg.reranker == "node_distance" and edges is not None and center_uuid:
        return node_distance_rerank(fused, edges, center_uuid, id_col="id").limit(limit)
    if cfg.reranker == "episode_mentions" and mention_edges is not None:
        return episode_mentions_rerank(fused, mention_edges, id_col="id").limit(limit)
    if cfg.reranker == "cross_encoder":
        cands = fused.join(
            corpus.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
            "id",
        )
        return token_overlap_rerank(cands, query, limit=limit)
    # A configured reranker could not run (e.g. mmr on a vector-less
    # channel, node_distance without center_uuid): degrade LOUDLY to the
    # RRF fusion, re-limited to the recipe's contract size.
    import logging

    logging.getLogger(__name__).warning(
        "reranker %r unavailable for this channel (missing vectors/center/"
        "mentions); degrading to rrf", cfg.reranker,
    )
    return fused.limit(limit)


def search(
    query: str,
    config: SearchConfig,
    *,
    nodes: DataFrame | None = None,
    edges: DataFrame | None = None,
    episodes: DataFrame | None = None,
    communities: DataFrame | None = None,
    mention_edges: DataFrame | None = None,
    filters: SearchFilters | None = None,
    center_uuid: str | None = None,
    origin_uuids: list[str] | None = None,
    graph_postings: DataFrame | None = None,
    query_vec: list[float] | None = None,
) -> dict[str, DataFrame]:
    """Fan out the configured channels; returns {channel: (id, score,
    rank)}. The query embedding is computed once on the driver (the
    reference embeds once per search, search.py:88-109); pass
    ``query_vec`` to bring your own embedding instead (external
    embedder / precomputed vectors).

    ``graph_postings``: the MATERIALIZED channel-tagged postings table
    (materialize.GRAPH_TABLES 'postings', built by
    fulltext.build_graph_postings). When present, bm25 channels read it
    instead of re-tokenizing the corpus per query — the DataFrame twin
    of the reference's persistent Lucene index. Not combinable with
    ``filters`` on the same channel (a filtered corpus needs a filtered
    index); filtered channels fall back to ad-hoc postings."""
    from graphiti_spark.search.fulltext import channel_index

    def _idx(channel: str, filtered: bool) -> dict | None:
        if graph_postings is None or filtered:
            return None
        idx = channel_index(graph_postings, channel)
        # a channel the materialized table never indexed must fall back
        # to ad-hoc postings over the passed corpus, not silently score
        # zero rows (isEmpty is a limit-1 probe on the filtered scan)
        if idx["postings"].isEmpty():
            return None
        return idx

    if query_vec is None:
        query_vec = embed_text(query)
    out: dict[str, DataFrame] = {}
    if config.edges is not None and edges is not None:
        e = apply_filters(edges, filters, "edge") if filters else edges
        corpus = e.select(
            "uuid",
            F.concat_ws(" ", "name", "fact").alias("search_text"),
            "fact_embedding",
        )
        out["edges"] = _channel(
            corpus, "uuid", "search_text", "fact_embedding", query, query_vec,
            config.edges, config.limit, edges=e, mention_edges=mention_edges,
            center_uuid=center_uuid, origin_uuids=origin_uuids,
            prebuilt_index=_idx("edges", filters is not None),
        )
    if config.nodes is not None and nodes is not None:
        n = apply_filters(nodes, filters, "node") if filters else nodes
        corpus = n.select(
            "uuid",
            F.concat_ws(" ", "name", "summary").alias("search_text"),
            "name_embedding",
        )
        out["nodes"] = _channel(
            corpus, "uuid", "search_text", "name_embedding", query, query_vec,
            config.nodes, config.limit, edges=edges, mention_edges=mention_edges,
            center_uuid=center_uuid, origin_uuids=origin_uuids,
            prebuilt_index=_idx("nodes", filters is not None),
            bfs_kind="nodes",
        )
    if config.episodes is not None and episodes is not None:
        corpus = episodes.select("uuid", F.col("content").alias("search_text"))
        out["episodes"] = _channel(
            corpus, "uuid", "search_text", None, query, None,
            config.episodes, config.limit,
            prebuilt_index=_idx("episodes", False),
        )
    if config.communities is not None and communities is not None:
        # the cosine arm ranks on CommunityNode.name_embedding
        # (reference community_similarity_search,
        # search_utils.py:1022-1129); a communities frame WITHOUT the
        # column (pre-r5 tables) degrades to bm25-only exactly as the
        # method dispatch already allows (vec_col None)
        has_vec = "name_embedding" in communities.columns
        corpus = communities.select(
            "uuid",
            F.concat_ws(" ", "name", "summary").alias("search_text"),
            *(["name_embedding"] if has_vec else []),
        )
        out["communities"] = _channel(
            corpus, "uuid", "search_text",
            "name_embedding" if has_vec else None, query,
            query_vec if has_vec else None,
            config.communities, config.limit,
            prebuilt_index=_idx("communities", False),
        )
    return out
