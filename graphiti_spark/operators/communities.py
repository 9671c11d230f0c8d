"""Community detection + summarization (SURVEY.md G1–G4).

Reference: `get_community_clusters` builds a per-group neighbor
projection, `label_propagation` iterates plurality-of-neighbors
weighted by edge count with ties broken toward the LARGER community id,
to a fixpoint (/root/reference/graphiti_core/utils/maintenance/
community_operations.py:29-131); `build_community` then LLM-summarizes
members pairwise (:167-206) — replaced here by a deterministic
concat-of-member-summaries (same shape as E8).

Spark formulation: synchronous label propagation — one join + one
max_by aggregation per iteration, `localCheckpoint` per round to cut
lineage, stop when no label changes (count of diffs = 0). Community id
= numeric rank of the node's min-uuid community seed; hub skew is
bounded because each round aggregates per node over its neighbors
(map-side combine), never materializing a community's full member list
until the final summary groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphiti_spark import ids
from graphiti_spark.config import MAX_SUMMARY_CHARS
from graphiti_spark.functions.embed import make_embed_udf
from graphiti_spark.search.graph import neighbor_weights
from graphiti_spark.textnorm import truncate_at_sentence_col

MAX_LP_ITERATIONS = 20

# Bounding the summary reducer (hub-skew rule, SURVEY.md §4): label
# propagation at web scale routinely yields one giant community, and an
# uncapped collect_list(name) materializes an O(|community|) array on
# one reducer to keep ~MAX_SUMMARY_CHARS chars. Keeping only the
# SUMMARY_TOPK smallest values per group is OUTPUT-IDENTICAL: the ". "
# separators alone contribute 2*(SUMMARY_TOPK-1) >= MAX_SUMMARY_CHARS
# chars, so the capped sorted concat agrees with the uncapped one on
# every char truncate_at_sentence can read (it truncates strictly
# within the first MAX_SUMMARY_CHARS chars whenever the text is longer,
# and a community smaller than the cap concatenates identically).
SUMMARY_TOPK = MAX_SUMMARY_CHARS // 2 + 2


def _capped_sorted_concat(
    df: DataFrame, group_cols: list[str], value_col: str, tiebreak_col: str
) -> DataFrame:
    """Per-group '. '-joined ascending concat of ``value_col``, with the
    per-group reducer input capped at SUMMARY_TOPK rows via the salted
    two-phase top-k (hub-safe — a giant community spreads over N_SALT
    reducers first). NULL values sort LAST so they never displace a
    contributing value from the cap (collect_list drops them anyway).
    Output: (*group_cols, names_cat)."""
    from graphiti_spark.operators.topk import salted_topk

    capped = salted_topk(
        df.select(*group_cols, value_col, tiebreak_col),
        group_cols,
        [F.col(value_col).asc_nulls_last(), F.col(tiebreak_col).asc()],
        k=SUMMARY_TOPK,
    )
    return capped.groupBy(*group_cols).agg(
        F.concat_ws(". ", F.array_sort(F.collect_list(value_col))).alias(
            "names_cat"
        )
    )


def label_propagation(edges: DataFrame, max_iterations: int = MAX_LP_ITERATIONS) -> DataFrame:
    """edges → (uuid, community) via weighted label propagation.

    Initial label = own uuid. Each round every node adopts the label
    with the highest total neighbor weight; ties break toward the
    LARGER label (reference community_operations.py:110-117 picks the
    larger community on ties). Converges when no label changes.
    """
    nbrs = neighbor_weights(edges).localCheckpoint(eager=True)
    labels = (
        nbrs.select(F.col("src").alias("uuid"))
        .distinct()
        .withColumn("community", F.col("uuid"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        votes = (
            nbrs.join(
                labels.select(
                    F.col("uuid").alias("dst"), F.col("community").alias("nbr_comm")
                ),
                "dst",
            )
            .groupBy("src", "nbr_comm")
            .agg(F.sum("weight").alias("w"))
        )
        # plurality with larger-id tie-break: max by (w, nbr_comm)
        new_labels = votes.groupBy(F.col("src").alias("uuid")).agg(
            F.max(F.struct(F.col("w"), F.col("nbr_comm"))).alias("best")
        ).select("uuid", F.col("best.nbr_comm").alias("community"))
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "uuid")
            .filter(F.col("n.community") != F.col("o.community"))
            .limit(1)
        )
        labels = new_labels
        if changed.isEmpty():
            break
    return labels


def build_communities(
    nodes: DataFrame, edges: DataFrame, run_ts
) -> dict[str, DataFrame]:
    """G3: communities + HAS_MEMBER edges with deterministic summaries.

    community uuid = sha256(group_id | min member uuid); name =
    'community <min member name>'; summary = '. '-joined member names
    (sorted), sentence-truncated at 500 (reference build_community
    replaced per SURVEY.md G3); name_embedding = the frozen hash
    embedding of the community name (reference CommunityNode.
    name_embedding, /root/reference/graphiti_core/nodes.py:591-728 —
    the vector community_similarity_search ranks on).

    The summary concat input is capped per community at SUMMARY_TOPK
    rows (output-identical — see _capped_sorted_concat); count/min
    aggregates are map-side combinable and need no cap.
    """
    labels = label_propagation(edges)
    members = nodes.join(labels, "uuid", "inner")

    agg = members.groupBy("group_id", "community").agg(
        F.count(F.lit(1)).alias("member_count"),
        F.min("uuid").alias("min_member_uuid"),
        F.min("name").alias("min_member_name"),
    ).join(
        _capped_sorted_concat(members, ["group_id", "community"], "name", "uuid"),
        ["group_id", "community"],
    )
    communities = agg.select(
        ids.entity_uuid_col(
            F.col("group_id"), F.concat(F.lit("community|"), F.col("min_member_uuid"))
        ).alias("uuid"),
        F.concat(F.lit("community "), F.col("min_member_name")).alias("name"),
        "group_id",
        truncate_at_sentence_col(
            F.concat(F.col("names_cat"), F.lit(".")), MAX_SUMMARY_CHARS
        ).alias("summary"),
        F.lit(run_ts).alias("created_at"),
        "member_count",
        F.col("community").alias("community_key"),
    ).withColumn("name_embedding", make_embed_udf()(F.col("name")))
    has_member = (
        members.select("group_id", "community", F.col("uuid").alias("entity_uuid"))
        .join(
            communities.select(
                F.col("community_key").alias("community"),
                F.col("uuid").alias("community_uuid"),
            ),
            "community",
        )
        .select(
            ids.mention_uuid_col(
                F.col("community_uuid"), F.col("entity_uuid")
            ).alias("uuid"),
            "group_id",
            "community_uuid",
            "entity_uuid",
            F.lit(run_ts).alias("created_at"),
        )
    )
    return {"communities": communities.drop("community_key"), "has_member": has_member}


def update_communities(
    communities: DataFrame,
    has_member: DataFrame,
    edges: DataFrame,
    new_nodes: DataFrame,
    run_ts,
) -> dict[str, DataFrame]:
    """G4 second half (reference update_community,
    community_operations.py:303-331), batched over every new node:

      1. assign each new node a community — direct membership wins, else
         the MODE of its neighbors' communities (ties → smaller
         community uuid; nodes with neither stay unassigned, reference
         returns ([], []));
      2. newly-assigned nodes append a HAS_MEMBER edge;
      3. an updated community row folds the new members' summaries into
         its summary (deterministic stand-in for the reference's
         summarize_pair LLM call: '. '-join, sorted, sentence-truncated)
         and bumps member_count.

    Returns {"communities": full updated table, "has_member": full table
    including appended memberships, "communities_changed": ONLY the
    community rows this update touched (the upsert side of a delta
    commit), "has_member_appended": ONLY the appended membership rows}.

    The community NAME is invariant under updates (reference
    update_community regenerates only the summary,
    community_operations.py:303-331), so ``name_embedding`` — a pure
    function of the name — passes through unchanged by construction.
    """
    new_ids = new_nodes.select("uuid", "summary")

    direct = new_ids.join(
        has_member.select(F.col("entity_uuid").alias("uuid"), "community_uuid"),
        "uuid",
    ).select("uuid", "community_uuid", F.lit(False).alias("is_new"))

    undirect = new_ids.join(direct.select("uuid"), "uuid", "left_anti")
    # neighbor-mode voting only reads edges INCIDENT to the new nodes —
    # restrict the adjacency build to that bounded subset before the
    # (src, dst) aggregation so a per-batch incremental update never
    # shuffles the whole graph's edge table (the weights over the local
    # subset are identical: every edge between a new node and any
    # neighbor is in it).
    ids_ = new_ids.select("uuid")
    touch_uuids = (
        edges.join(
            ids_.withColumnRenamed("uuid", "source_node_uuid"),
            "source_node_uuid", "left_semi",
        )
        .select("uuid")
        .unionByName(
            edges.join(
                ids_.withColumnRenamed("uuid", "target_node_uuid"),
                "target_node_uuid", "left_semi",
            ).select("uuid")
        )
        .distinct()
    )
    e_local = edges.join(touch_uuids, "uuid", "left_semi")
    nbrs = neighbor_weights(e_local).select(
        F.col("src").alias("uuid"), F.col("dst").alias("nbr")
    )
    votes = (
        undirect.join(nbrs, "uuid")
        .join(
            has_member.select(
                F.col("entity_uuid").alias("nbr"), "community_uuid"
            ),
            "nbr",
        )
        .groupBy("uuid", "community_uuid")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # mode with deterministic tie-break: max (n, reversed-uuid) ≈ max n,
    # then min community_uuid — expressed as min over (-n, uuid)
    by_nbr = (
        votes.groupBy("uuid")
        .agg(F.min(F.struct(-F.col("n"), F.col("community_uuid"))).alias("best"))
        .select(
            "uuid",
            F.col("best.community_uuid").alias("community_uuid"),
            F.lit(True).alias("is_new"),
        )
    )
    assigned = direct.unionByName(by_nbr)

    appended = (
        assigned.filter(F.col("is_new"))
        .join(
            communities.select(
                F.col("uuid").alias("community_uuid"), "group_id"
            ),
            "community_uuid",
        )
        .select(
            ids.mention_uuid_col(
                F.col("community_uuid"), F.col("uuid")
            ).alias("uuid"),
            "group_id",
            "community_uuid",
            F.col("uuid").alias("entity_uuid"),
            F.lit(run_ts).alias("created_at"),
        )
    )

    with_sum = assigned.join(new_ids, "uuid")
    # same reducer bound as build_communities: the fold concat only ever
    # keeps MAX_SUMMARY_CHARS chars, so cap its per-community input at
    # SUMMARY_TOPK (output-identical; a mega-batch landing on one
    # community otherwise rebuilds the uncapped collect_list).
    folded = _capped_sorted_concat(
        with_sum, ["community_uuid"], "summary", "uuid"
    ).withColumnRenamed("names_cat", "new_members_cat").join(
        with_sum.groupBy("community_uuid").agg(
            F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("n_added")
        ),
        "community_uuid",
    )
    updated = (
        communities.join(
            folded.withColumnRenamed("community_uuid", "uuid"), "uuid", "left"
        )
        .withColumn(
            "summary",
            F.when(
                F.col("new_members_cat").isNotNull(),
                truncate_at_sentence_col(
                    F.concat(
                        F.regexp_replace(F.col("summary"), r"\.$", ""),
                        F.lit(". "),
                        F.col("new_members_cat"),
                        F.lit("."),
                    ),
                    MAX_SUMMARY_CHARS,
                ),
            ).otherwise(F.col("summary")),
        )
        .withColumn(
            "member_count",
            F.col("member_count") + F.coalesce(F.col("n_added"), F.lit(0)),
        )
    )
    changed = updated.filter(F.col("new_members_cat").isNotNull()).drop(
        "new_members_cat", "n_added"
    )
    updated = updated.drop("new_members_cat", "n_added")
    return {
        "communities": updated,
        "has_member": has_member.unionByName(appended),
        "communities_changed": changed,
        "has_member_appended": appended,
    }

