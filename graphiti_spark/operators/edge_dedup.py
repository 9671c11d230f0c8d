"""Fuzzy edge dedup + type enforcement (SURVEY.md D11, D16–D19, T4).

Reference semantics:
  - D16 candidate generation (`dedupe_edges_bulk` /root/reference/
    graphiti_core/utils/bulk_utils.py:402-495): candidates share
    (source, target) AND (fact word-overlap OR embedding cosine ≥ 0.6,
    min_score at :411).
  - D18 duplicate resolution (`resolve_extracted_edge`
    edge_operations.py:444-647): LLM picks duplicate_facts — replaced
    here by the deterministic rule cosine(fact_embedding) ≥ threshold
    within the same endpoints; duplicate groups collapse via the same
    union-find the reference uses (bulk_utils.py:498-535) → CC job.
  - D11 (`filter_existing_duplicate_of_edges` edge_operations.py:650-711):
    drop duplicate pairs already recorded as IS_DUPLICATE_OF edges.
  - D19 (`edge_operations.py:316-361,575-613`): a custom edge name is
    allowed only if (src_label, dst_label) permits it in edge_type_map,
    else reset to RELATES_TO (DEFAULT_EDGE_NAME :46); unknown names pass
    through.
  - T4 (`get_edge_invalidation_candidates` search/search_utils.py:
    1545-1729): invalidation candidates share EITHER endpoint and have
    fact cosine ≥ 0.6.

Scale notes: the D16 self-join keys on (group, src, dst) — bounded by
per-endpoint-pair edge counts; hub endpoint pairs are rare because the
key includes BOTH endpoints. The T4 either-endpoint join is the skewed
one: hub entities fan out — it unions two endpoint-keyed joins rather
than exploding an OR-join, and both sides pre-project only (uuid,
endpoint, embedding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphiti_spark.config import DEFAULT_EDGE_NAME, DEFAULT_MIN_SCORE
from graphiti_spark.functions.embed import cosine_col

IS_DUPLICATE_OF = "IS_DUPLICATE_OF"


def edge_duplicate_pairs(
    edges: DataFrame, min_score: float = DEFAULT_MIN_SCORE
) -> DataFrame:
    """D16/D18: duplicate edge pairs — same endpoints + (word overlap OR
    fact-embedding cosine ≥ min_score). Output (src, dst) edge-uuid
    pairs (src < dst)."""
    keys = ["group_id", "source_node_uuid", "target_node_uuid"]
    lhs = edges.select(
        *keys,
        F.col("uuid").alias("a_uuid"),
        F.col("fact").alias("a_fact"),
        F.col("fact_embedding").alias("a_emb"),
    )
    rhs = edges.select(
        *keys,
        F.col("uuid").alias("b_uuid"),
        F.col("fact").alias("b_fact"),
        F.col("fact_embedding").alias("b_emb"),
    )
    words = lambda c: F.array_distinct(F.split(F.lower(c), r"\s+"))  # noqa: E731
    pairs = (
        lhs.join(rhs, keys)
        .filter(F.col("a_uuid") < F.col("b_uuid"))
        .withColumn(
            "word_overlap",
            F.size(F.array_intersect(words(F.col("a_fact")), words(F.col("b_fact")))),
        )
        .withColumn("cos", cosine_col(F.col("a_emb"), F.col("b_emb")))
        # Reference OR semantics (bulk_utils.py:430-432): word overlap
        # ALONE qualifies a candidate pair; cosine catches paraphrases
        # with disjoint wording. Pinned by test_edge_dedup.py.
        .filter((F.col("word_overlap") > 0) | (F.col("cos") >= min_score))
    )
    return pairs.select(
        F.col("a_uuid").alias("src"), F.col("b_uuid").alias("dst")
    ).distinct()


def filter_existing_duplicate_pairs(
    pairs: DataFrame, existing_edges: DataFrame
) -> DataFrame:
    """D11: drop pairs already recorded as IS_DUPLICATE_OF edges (either
    orientation)."""
    recorded = existing_edges.filter(F.col("name") == IS_DUPLICATE_OF).select(
        F.col("source_node_uuid").alias("src"), F.col("target_node_uuid").alias("dst")
    )
    sym = recorded.union(
        recorded.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # recorded-duplicate history grows with the graph — size-gated
    # broadcast (AQE), not a forced hint
    return pairs.join(sym, ["src", "dst"], "left_anti")


def merge_duplicate_edges(edges: DataFrame, pairs: DataFrame) -> DataFrame:
    """Collapse duplicate edge groups (CC over pairs, min-uuid canonical —
    the reference's UnionFind root rule): canonical edge keeps its own
    payload, episodes arrays union across the group, earliest valid_at
    wins (reference resolve_extracted_edge keeps the existing edge and
    appends episodes, edge_operations.py:479-493)."""
    from graphiti_spark.operators.cc import connected_components

    cc = connected_components(pairs)
    # no forced broadcast: cc spans every duplicated edge uuid (AQE
    # broadcasts when small, shuffle-joins when not)
    remapped = (
        edges.join(cc, "uuid", "left")
        .withColumn("canonical", F.coalesce("canonical_uuid", "uuid"))
        .drop("canonical_uuid")
    )
    grouped = remapped.groupBy("canonical").agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("episodes")))).alias(
            "episodes"
        ),
        F.min("valid_at").alias("valid_at"),
        F.min(F.struct(F.col("uuid"), F.col("group_id"), F.col("source_node_uuid"),
                       F.col("target_node_uuid"), F.col("name"), F.col("fact"),
                       F.col("fact_embedding"), F.col("created_at"))).alias("own"),
    )
    return grouped.select(
        F.col("own.uuid").alias("uuid"),
        F.col("own.group_id").alias("group_id"),
        F.col("own.source_node_uuid").alias("source_node_uuid"),
        F.col("own.target_node_uuid").alias("target_node_uuid"),
        F.col("own.name").alias("name"),
        F.col("own.fact").alias("fact"),
        F.col("own.fact_embedding").alias("fact_embedding"),
        "episodes",
        F.col("own.created_at").alias("created_at"),
        "valid_at",
    )


def build_is_duplicate_edges(pairs: DataFrame, nodes_or_edges: DataFrame, run_ts) -> DataFrame:
    """Materialize accepted duplicate pairs as IS_DUPLICATE_OF edges
    (the reference persists duplicate_pairs this way,
    node_operations.py:395-450 → graphiti.py)."""
    from graphiti_spark import ids

    meta = nodes_or_edges.select(F.col("uuid").alias("src"), "group_id")
    return (
        pairs.join(meta, "src")
        .select(
            ids.edge_uuid_col(
                F.col("group_id"), F.col("src"), F.col("dst"),
                F.lit(IS_DUPLICATE_OF), F.lit(""),
            ).alias("uuid"),
            "group_id",
            F.col("src").alias("source_node_uuid"),
            F.col("dst").alias("target_node_uuid"),
            F.lit(IS_DUPLICATE_OF).alias("name"),
            F.lit("").alias("fact"),
            F.lit(run_ts).alias("created_at"),
        )
    )


def enforce_edge_types(
    edges: DataFrame,
    nodes: DataFrame,
    edge_type_map: dict[tuple[str, str], list[str]],
    custom_types: set[str] | None = None,
) -> DataFrame:
    """D19: reset a CUSTOM edge name to RELATES_TO unless
    (src_label, dst_label) permits it; non-custom names pass through
    (reference edge_operations.py:575-613 — only names belonging to the
    user ontology are validated).

    The labels side spans EVERY node, so it follows edges.remap_uuids'
    broadcast rule: hinted only when ``nodes`` is a local relation;
    otherwise the decision is Catalyst statistics + AQE's, which
    shuffle-join on the uniform sha256 uuid when the node table is
    large."""
    custom = custom_types if custom_types is not None else {
        n for names in edge_type_map.values() for n in names
    }
    labels = nodes.select(
        "uuid", F.element_at("labels", -1).alias("label")
    )
    blabels = F.broadcast(labels) if nodes.isLocal() else labels
    with_labels = (
        edges.join(
            blabels.withColumnRenamed("uuid", "source_node_uuid")
            .withColumnRenamed("label", "src_label"),
            "source_node_uuid", "left",
        )
        .join(
            blabels.withColumnRenamed("uuid", "target_node_uuid")
            .withColumnRenamed("label", "dst_label"),
            "target_node_uuid", "left",
        )
    )
    allowed = F.lit(False)
    for (src_l, dst_l), names in sorted(edge_type_map.items()):
        allowed = allowed | (
            (F.col("src_label") == src_l)
            & (F.col("dst_label") == dst_l)
            & F.col("name").isin(sorted(names))
        )
    is_custom = F.col("name").isin(sorted(custom)) if custom else F.lit(False)
    return with_labels.withColumn(
        "name",
        F.when(is_custom & ~allowed, F.lit(DEFAULT_EDGE_NAME)).otherwise(
            F.col("name")
        ),
    ).drop("src_label", "dst_label")


def invalidation_candidates(
    new_edges: DataFrame,
    existing_edges: DataFrame,
    min_score: float | None = DEFAULT_MIN_SCORE,
    per_edge_limit: int | None = None,
    per_endpoint_limit: int | None = 64,
) -> DataFrame:
    """T4: per new edge, existing edges sharing EITHER endpoint with fact
    cosine ≥ min_score (reference search_utils.py:1545-1729, endpoint
    clause at :1680). Output (new_uuid, candidate_uuid, cos).
    min_score=None disables the similarity gate (pure endpoint-sharing
    candidates — the SQL-oracle-able subset).

    BOUNDED by construction (the reference bounds every candidate search
    by its LIMIT — RELEVANT_SCHEMA_LIMIT=10, search_utils.py:63):

      - ``per_endpoint_limit`` caps the EXISTING side per endpoint BEFORE
        the join (most-recent valid_at first — the open facts a fresh
        contradiction could still close), so a hub entity with d incident
        edges yields O(d·cap) pairs, never O(d²). Spark plans the cap as
        a WindowGroupLimit: map-side partial top-k, no hub reducer.
      - ``per_edge_limit`` (defaults to RELEVANT_SCHEMA_LIMIT) keeps the
        per-new-edge top-k of the survivors (cosine desc, then uuid —
        deterministic under ties; pure uuid order when min_score=None).

    Pass None/None to disable the endpoint cap (exact pairs — only sane
    on pre-filtered inputs; the default DAG uses the O(|edges|)
    temporal.invalidate_cross_predicate skyline instead of pair
    generation). Two endpoint-keyed sides joined on the endpoint key —
    never an OR-join; both sides pre-project minimal columns."""
    from pyspark.sql import Window

    from graphiti_spark.config import RELEVANT_SCHEMA_LIMIT

    if per_edge_limit is None:
        per_edge_limit = RELEVANT_SCHEMA_LIMIT
    new_sides = new_edges.select(
        F.col("uuid").alias("new_uuid"),
        F.explode(
            F.array(F.col("source_node_uuid"), F.col("target_node_uuid"))
        ).alias("endpoint"),
        F.col("fact_embedding").alias("new_emb"),
    )
    old_sides = existing_edges.select(
        F.col("uuid").alias("candidate_uuid"),
        F.explode(
            F.array(F.col("source_node_uuid"), F.col("target_node_uuid"))
        ).alias("endpoint"),
        F.col("fact_embedding").alias("old_emb"),
        F.col("valid_at").alias("old_valid_at"),
    )
    if per_endpoint_limit is not None:
        w_ep = Window.partitionBy("endpoint").orderBy(
            F.col("old_valid_at").desc_nulls_last(), F.col("candidate_uuid")
        )
        old_sides = (
            old_sides.withColumn("ep_rn", F.row_number().over(w_ep))
            .filter(F.col("ep_rn") <= per_endpoint_limit)
            .drop("ep_rn")
        )
    joined = new_sides.join(old_sides.drop("old_valid_at"), "endpoint").filter(
        F.col("new_uuid") != F.col("candidate_uuid")
    )
    if min_score is None:
        # no similarity gate → don't pay the cosine either
        joined = joined.withColumn("cos", F.lit(None).cast("double"))
    else:
        joined = joined.withColumn(
            "cos", F.round(cosine_col(F.col("new_emb"), F.col("old_emb")), 4)
        ).filter(F.col("cos") >= min_score)
    out = joined.select("new_uuid", "candidate_uuid", "cos").distinct()
    w_new = Window.partitionBy("new_uuid").orderBy(
        F.col("cos").desc_nulls_last(), F.col("candidate_uuid")
    )
    return (
        out.withColumn("rn", F.row_number().over(w_new))
        .filter(F.col("rn") <= per_edge_limit)
        .drop("rn")
    )
