"""Incremental ingest: resolve a NEW batch of pages against an EXISTING
persisted graph and merge — with per-batch cost O(|batch| + |touched
subgraph|), never O(|graph|) (SURVEY.md D9/Q7/Q8; VERDICT r02 #1).

Reference flow: each new episode's extracted entities are resolved
against the live graph — per-name candidate retrieval
(node_operations.py:211-243), `get_relevant_nodes`/`get_relevant_edges`
batch probes (search_utils.py:1206-1357, :1360-1542), and per-edge
resolution against candidates only (edge_operations.py:241-403) — the
reference touches just the subgraph a new episode hits. This module is
the batch-Spark formulation of that locality.

DELTA ALGEBRA — what a batch can possibly change:

  seeds       alias uuids named by the batch: new entities + endpoints
              of new/cross duplicate pairs (only new-vs-new and
              new-vs-prior are ever LSH-blocked; never prior × prior).
  components  a prior component changes iff a seed touches it; the
              affected alias set A = prior_map rows whose canonical is a
              seed's prior canonical. CC re-runs over A's pairs + the
              delta pairs ONLY; everything else keeps its prior mapping
              verbatim. Every remap below reads CC's alias map through
              edges.remap_uuids, exactly as the batch build does (a
              local map broadcasts, an empty one plans away, no count
              job); the identity-padded delta_map over A ∪ new uuids
              feeds the map diff, the node/community deltas and the
              uuid_map upserts.
  edges       a prior edge is touched iff (a) an endpoint is a
              re-pointed canonical, or (b) its merge key collides with a
              new-batch row or a re-pointed edge's new key (episode
              union). Touched edges explode back to provenance rows and
              re-merge WITH the new rows; untouched edges pass through
              byte-identical — embeddings are never recomputed.
  temporal    the endpoint-skyline closing (invalidate_cross_predicate
              semantics) is recomputed only for edges with an endpoint
              whose instant set changed; their skylines are rebuilt from
              the edges at exactly those endpoints (two endpoint-keyed
              semi-joins — at Iceberg scale, endpoint-bucketed tables
              prune these scans).
  nodes       rebuilt only for canonicals whose alias set, mention
              counts or subject-fact set changed; the rest pass through.
  mentions    re-pointed canonicals remap their mention edges; collision
              dedup probes only episodes shared with a touched mention.
  postings    the materialized BM25 index is patched per channel:
              delete touched ids, insert recomputed ids, append new
              episodes (never a corpus re-tokenize).

ASSOCIATIVITY CONTRACT: ids are content-derived and CC picks the min
uuid of the merged component, so ingesting batch A then batch B produces
the SAME graph as ingesting A ∪ B in one batch — asserted hash-exactly
by the `incremental_merge` driver oracle (whose oracle SQL is the
full-batch pipeline) and by tests/test_incremental.py. The only
divergence window is the LSH bucket cap (per-run bucket populations),
which never triggers below MAX_BUCKET_SIZE names per bucket.

Graph state consumed/produced (materialize.GRAPH_TABLES): nodes, edges,
mention_edges, episodes, entities (alias-level name index), pairs
(accepted duplicate pairs; the reference persists these as
IS_DUPLICATE_OF edges), uuid_map (full alias→canonical incl. identity
rows — the delta diff base), postings (materialized BM25 index).

On an Iceberg catalog every output table commits through MERGE
(materialize.upsert_sql); the parquet sandbox equivalent is the
versioned delta commit in streaming/ingest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark import ids
from graphiti_spark.config import RunConfig
from graphiti_spark.operators.cc import connected_components
from graphiti_spark.operators.edges import (
    build_mention_edges,
    edge_provenance_rows,
    merge_edge_rows,
    rebuild_mention_edges,
    resolve_edge_pointers,
)
from graphiti_spark.operators.resolve import (
    canonical_uuid_map,
    duplicate_pairs,
    duplicate_pairs_between,
    extracted_entities,
    full_uuid_map,
)
from graphiti_spark.sources.pages import pages_to_episodes


def merge_entity_index(
    prior_entities: DataFrame, new_entities: DataFrame
) -> DataFrame:
    """Union the alias-level name indexes, summing mention counts on the
    shared deterministic uuid — as a DELTA: only uuids present in the
    new batch re-aggregate; every other prior row passes through (the
    MERGE-INTO shape, not a full-index groupBy)."""
    cols = ["uuid", "group_id", "name", "mention_count"]
    new_keys = new_entities.select("uuid")
    merged = (
        prior_entities.select(*cols)
        .join(new_keys, "uuid", "left_semi")
        .unionByName(new_entities.select(*cols))
        .groupBy("uuid", "group_id", "name")
        .agg(F.sum("mention_count").alias("mention_count"))
    )
    untouched = prior_entities.select(*cols).join(new_keys, "uuid", "left_anti")
    return untouched.unionByName(merged)


def get_relevant_nodes(
    probe_entities: DataFrame, existing_entities: DataFrame
) -> DataFrame:
    """Q7 batch probe: for each probe name, the existing-graph candidates
    it could resolve to (reference search_utils.py:1206-1357 — hybrid
    per-name retrieval, here the deterministic LSH-candidate set).
    Output (probe_uuid, candidate_uuid) distinct."""
    from graphiti_spark.operators.resolve import banded_names

    keys = ["group_id", "band_idx", "band_key"]
    probes = banded_names(probe_entities).select(
        *keys, F.col("uuid").alias("probe_uuid")
    )
    index = banded_names(existing_entities).select(
        *keys, F.col("uuid").alias("candidate_uuid")
    )
    return (
        probes.join(index, keys)
        .filter(F.col("probe_uuid") != F.col("candidate_uuid"))
        .select("probe_uuid", "candidate_uuid")
        .distinct()
    )


def get_relevant_edges(
    probe_edges: DataFrame, existing_edges: DataFrame
) -> DataFrame:
    """Q8 batch probe: existing edges sharing BOTH endpoints with a probe
    edge (reference search_utils.py:1360-1542 scopes candidates to the
    same source/target pair). Output (probe_uuid, candidate_uuid)."""
    keys = ["group_id", "source_node_uuid", "target_node_uuid"]
    probes = probe_edges.select(*keys, F.col("uuid").alias("probe_uuid"))
    index = existing_edges.select(*keys, F.col("uuid").alias("candidate_uuid"))
    return (
        probes.join(index, keys)
        .filter(F.col("probe_uuid") != F.col("candidate_uuid"))
        .select("probe_uuid", "candidate_uuid")
        .distinct()
    )


def prior_edge_provenance_rows(
    prior_edges: DataFrame,
    prior_episodes: DataFrame,
    uuid_map: DataFrame,
) -> DataFrame:
    """Explode persisted edges back to provenance rows (the
    merge_edge_rows exchange format), re-canonicalizing endpoints through
    the NEW uuid_map (a cross-batch merge can re-point a prior canonical
    at a smaller merged uuid). Per-episode valid_at is recovered from the
    episodes table. Call this on the TOUCHED edge subset only."""
    from graphiti_spark.operators.extract import stated_date_col

    exploded = prior_edges.select(
        "group_id",
        "source_node_uuid",
        "target_node_uuid",
        "name",
        "fact",
        F.explode("episodes").alias("episode_uuid"),
    )
    # Recover the per-episode reference instant the BATCH path used: the
    # E6 stated in-text date (extract.stated_date_col over the persisted
    # episode content), falling back to warc_ts (= episodes.valid_at).
    # Joining bare episodes.valid_at would diverge from one-batch ingest
    # on any corpus whose text states a date (ADVICE r02, high).
    with_ts = exploded.join(
        prior_episodes.select(
            F.col("uuid").alias("episode_uuid"),
            stated_date_col(F.col("content"), F.col("valid_at")).alias(
                "ep_valid_at"
            ),
        ),
        "episode_uuid",
    )
    remapped = resolve_edge_pointers(with_ts, uuid_map)
    from graphiti_spark.functions.dedup_text import normalize_string_exact_col

    return remapped.select(
        "group_id",
        "source_node_uuid",
        "target_node_uuid",
        "name",
        "fact",
        normalize_string_exact_col(F.col("fact")).alias("fact_norm"),
        "episode_uuid",
        "ep_valid_at",
    )


def _edge_uuid_from_key():
    """Edge identity recomputed from merge-key columns in scope."""
    return ids.edge_uuid_col(
        F.col("group_id"),
        F.col("source_node_uuid"),
        F.col("target_node_uuid"),
        F.col("name"),
        F.col("fact_norm"),
    )


def _endpoints(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.explode(
            F.array(F.col("source_node_uuid"), F.col("target_node_uuid"))
        ).alias("endpoint")
    ).distinct()


def _invalidate_delta(
    untouched_prior: DataFrame,
    recomputed: DataFrame,
    touched_prior: DataFrame,
    run_ts,
) -> tuple[DataFrame, DataFrame]:
    """Recompute the endpoint-skyline closing (temporal.invalidate_cross_
    predicate semantics) ONLY where the merged batch can have changed it.

    Instants change exactly at endpoints of touched/recomputed edges; an
    edge's closing depends only on its own endpoints' instants. So:
    affected = edges with ≥1 endpoint in the changed set; their skylines
    are rebuilt from the edges at the affected edges' endpoints (one
    ring out); everything else keeps its stored invalid_at/expired_at.

    Returns (full merged temporal edges, the CHANGED rows only — the
    upsert side of a MERGE commit).
    """
    ep_changed = _endpoints(touched_prior).unionByName(
        _endpoints(recomputed)
    ).distinct()

    prior_cols = untouched_prior.columns
    base_cols = [c for c in prior_cols if c not in ("invalid_at", "expired_at")]

    def sides(df):
        return df.select(
            "uuid",
            F.explode(
                F.array(F.col("source_node_uuid"), F.col("target_node_uuid"))
            ).alias("endpoint"),
            "valid_at",
        ).filter(F.col("valid_at").isNotNull())

    # affected untouched edges: any endpoint in the changed set
    aff_prior = (
        sides(untouched_prior)
        .join(ep_changed, "endpoint", "left_semi")
        .select("uuid")
        .distinct()
    )
    affected_prior = untouched_prior.join(aff_prior, "uuid", "left_semi")
    # _recomputed rows changed content (episodes/embedding re-merge) and
    # are ALWAYS upserted, whatever their closing does
    affected = (
        affected_prior.select(*base_cols)
        .withColumn("_recomputed", F.lit(False))
        .unionByName(
            recomputed.select(*base_cols).withColumn("_recomputed", F.lit(True))
        )
    )

    # skylines for every endpoint an affected edge touches (the one-ring
    # neighbourhood; at Iceberg scale endpoint bucketing prunes this scan)
    ep_needed = _endpoints(affected)
    skyline_edges = untouched_prior.select(
        "uuid", "source_node_uuid", "target_node_uuid", "valid_at"
    ).unionByName(
        recomputed.select(
            "uuid", "source_node_uuid", "target_node_uuid", "valid_at"
        )
    )
    from pyspark.sql import Window

    sky_sides = sides(skyline_edges).join(ep_needed, "endpoint", "left_semi")
    skyline = sky_sides.select("endpoint", "valid_at").distinct()
    w = Window.partitionBy("endpoint").orderBy("valid_at")
    successor = skyline.withColumn("next_at", F.lead("valid_at").over(w))
    closing = (
        sides(affected)
        .join(successor, ["endpoint", "valid_at"])
        .groupBy("uuid")
        .agg(F.min("next_at").alias("closing_at"))
    )
    # Diff against the stored prior values: most affected-by-endpoint rows
    # recompute to an IDENTICAL closing (a hub endpoint marks every
    # incident edge "affected", but only the edges in the gap preceding a
    # newly inserted instant actually change). Upserting identical rows
    # is semantically harmless but defeats the MERGE-locality design —
    # measured on the sf0.1 hub-heavy corpus the raw affected set is ~89%
    # of the prior graph while the truly-changed set is batch-sized. An
    # unchanged closing also keeps its ORIGINAL expired_at stamp (the
    # expiry was set by the run that closed it, not by this batch) —
    # including for RE-MERGED edges (episode union keeps the edge uuid),
    # so prior values come from the WHOLE prior, not just untouched rows.
    prior_vals = (
        untouched_prior.select("uuid", "invalid_at", "expired_at")
        .unionByName(touched_prior.select("uuid", "invalid_at", "expired_at"))
        .select(
            "uuid",
            F.col("invalid_at").alias("_prior_invalid"),
            F.col("expired_at").alias("_prior_expired"),
            F.lit(True).alias("_had_prior"),
        )
    )
    unchanged_closing = F.col("_had_prior").isNotNull() & F.col(
        "closing_at"
    ).eqNullSafe(F.col("_prior_invalid"))
    helper_cols = (
        "closing_at", "_prior_invalid", "_prior_expired", "_had_prior",
        "_recomputed",
    )
    affected_out = (
        affected.join(closing, "uuid", "left")
        .join(prior_vals, "uuid", "left")
        .withColumn("invalid_at", F.col("closing_at"))
        .withColumn(
            "expired_at",
            F.when(unchanged_closing, F.col("_prior_expired")).otherwise(
                F.when(
                    F.col("closing_at").isNotNull(), F.lit(run_ts)
                ).otherwise(F.lit(None).cast("timestamp"))
            ),
        )
    )
    changed = affected_out.filter(
        F.col("_recomputed") | ~unchanged_closing
    ).drop(*helper_cols)
    affected_out = affected_out.drop(*helper_cols)
    unaffected = untouched_prior.join(aff_prior, "uuid", "left_anti")
    full = unaffected.select(*affected_out.columns).unionByName(affected_out)
    return full, changed


def _update_communities_delta(
    prior_comms: DataFrame,
    prior_hm: DataFrame,
    repoint: DataFrame,
    edges_merged: DataFrame,
    new_nodes: DataFrame,
    run_ts,
) -> dict[str, DataFrame]:
    """G4 community maintenance for one incremental batch (reference
    update_community, community_operations.py:246-331, the
    add_episode(update_communities=True) path, graphiti.py:780-787):

      1. memberships of RE-POINTED canonicals follow the merge: the
         HAS_MEMBER row re-keys to the surviving canonical uuid; when a
         merge gives one entity several candidate memberships (both
         merged nodes were members), the smaller community uuid wins
         (deterministic stand-in for the reference's "first record");
         member_count is recounted for every community whose membership
         set changed (a merge can collapse two member rows into one);
      2. every canonical the BATCH resolved (``new_nodes``) runs the
         direct-or-neighbor-mode placement + summary fold of
         operators.communities.update_communities.

    All inputs except prior_comms/prior_hm are batch/touched-sized; the
    adjacency build inside update_communities is restricted to edges
    incident to the batch's nodes, so per-batch cost stays
    O(|batch| + |touched|), never O(|graph|).

    Returns {"communities", "has_member"} full tables plus the delta
    frames {"comm_upserts", "hm_upserts", "hm_deletes"}.
    """
    from graphiti_spark.operators.communities import update_communities

    hm_cols = ["uuid", "group_id", "community_uuid", "entity_uuid",
               "created_at"]
    prior_hm = prior_hm.select(*hm_cols)
    rp_ent = repoint.withColumnRenamed("uuid", "entity_uuid")
    hm_touched = prior_hm.join(
        rp_ent.select("entity_uuid"), "entity_uuid", "left_semi"
    )
    hm_untouched = prior_hm.join(
        rp_ent.select("entity_uuid"), "entity_uuid", "left_anti"
    )
    # canonicals the re-pointed memberships land on: their existing rows
    # join the conflict resolution too
    targets = rp_ent.select(
        F.col("canonical_uuid").alias("entity_uuid")
    ).distinct()
    hm_target_prior = hm_untouched.join(targets, "entity_uuid", "left_semi")
    hm_rest = hm_untouched.join(targets, "entity_uuid", "left_anti")
    cand = (
        hm_touched.join(rp_ent, "entity_uuid")
        .select(
            F.col("canonical_uuid").alias("entity_uuid"),
            "group_id", "community_uuid", "created_at",
        )
        .unionByName(
            hm_target_prior.select(
                "entity_uuid", "group_id", "community_uuid", "created_at"
            )
        )
    )
    winner = cand.groupBy("entity_uuid").agg(
        F.min(F.struct("community_uuid", "group_id", "created_at")).alias("w")
    )
    hm_for_targets = winner.select(
        ids.mention_uuid_col(
            F.col("w.community_uuid"), F.col("entity_uuid")
        ).alias("uuid"),
        F.col("w.group_id").alias("group_id"),
        F.col("w.community_uuid").alias("community_uuid"),
        "entity_uuid",
        F.col("w.created_at").alias("created_at"),
    ).localCheckpoint()
    has_member_base = hm_rest.unionByName(hm_for_targets.select(*hm_cols))

    # recount communities whose membership set the remap touched
    recount_ids = (
        hm_touched.select("community_uuid")
        .unionByName(hm_target_prior.select("community_uuid"))
        .unionByName(hm_for_targets.select("community_uuid"))
        .distinct()
        .withColumnRenamed("community_uuid", "uuid")
        .localCheckpoint()
    )
    new_counts = (
        has_member_base.join(
            recount_ids.withColumnRenamed("uuid", "community_uuid"),
            "community_uuid", "left_semi",
        )
        .groupBy(F.col("community_uuid").alias("uuid"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # a recounted community absent from new_counts lost every member →
    # corrected count 0
    corrections = recount_ids.join(new_counts, "uuid", "left").select(
        "uuid",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("_corrected"),
    )
    comm_base = (
        prior_comms.join(corrections, "uuid", "left")
        .withColumn(
            "member_count",
            F.coalesce(F.col("_corrected"), F.col("member_count")),
        )
        .drop("_corrected")
    )

    upd = update_communities(
        comm_base, has_member_base, edges_merged, new_nodes, run_ts
    )
    changed_ids = upd["communities_changed"].select("uuid")
    touched_comm_ids = changed_ids.unionByName(recount_ids).distinct()
    comm_upserts = upd["communities"].join(
        touched_comm_ids, "uuid", "left_semi"
    )
    hm_upserts = hm_for_targets.unionByName(
        upd["has_member_appended"].select(*hm_cols)
    )
    hm_deletes = (
        hm_touched.select("uuid")
        .unionByName(hm_target_prior.select("uuid"))
        .join(hm_for_targets.select("uuid"), "uuid", "left_anti")
    )
    return {
        "communities": upd["communities"],
        "has_member": upd["has_member"],
        "comm_upserts": comm_upserts,
        "hm_upserts": hm_upserts,
        "hm_deletes": hm_deletes,
    }


def ingest_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    prior: dict[str, DataFrame],
    cfg: RunConfig | None = None,
) -> dict[str, DataFrame]:
    """Resolve + merge a new page batch into a prior graph, touching only
    the subgraph the batch hits (module docstring).

    ``prior``: dict with {entities, pairs, edges, episodes,
    mention_edges, nodes[, uuid_map, postings]} (load_graph output / a
    previous run's outputs). A missing uuid_map is reconstructed once
    from prior pairs (CC over accepted pairs — small vs the corpus).
    Returns the same output map as run_pipeline covering the MERGED
    graph, plus ``delta``: the per-table changed-row frames a MERGE/
    streaming commit writes instead of the full graph.
    """
    cfg = cfg or RunConfig()

    # --- O(|batch|): extraction (one token-stream pass for both outputs;
    # the checkpointed stream is batch-sized) ---
    from graphiti_spark.operators.extract import (
        extract_token_stream,
        mentions_from_stream,
        triples_from_stream,
    )

    episodes_new = pages_to_episodes(new_pages, cfg.run_ts).localCheckpoint()
    stream_new = extract_token_stream(
        episodes_new, cfg.excluded_entity_types
    ).localCheckpoint()
    mentions_new = mentions_from_stream(stream_new)
    triples_new = triples_from_stream(stream_new)
    return ingest_extracted(
        spark, episodes_new, mentions_new, triples_new, prior, cfg
    )


def ingest_extracted(
    spark: SparkSession,
    episodes_new: DataFrame,
    mentions_new: DataFrame,
    triples_new: DataFrame,
    prior: dict[str, DataFrame],
    cfg: RunConfig | None = None,
) -> dict[str, DataFrame]:
    """The extraction-bypassing tail of ``ingest_incremental``: resolve +
    merge PRE-BUILT (episodes, mentions, triples) frames into a prior
    graph. This is the seam the reference's `add_triplet`
    (graphiti.py:1169-1233) needs — it hands the engine an already-formed
    triple and only runs dedup/resolution/save — and what a caller with
    its own extractor (an LLM batch job writing triples to parquet)
    plugs into.

    episodes_new: (uuid, name, group_id, source, source_description,
    content, valid_at, created_at); mentions_new: (episode_uuid,
    group_id, valid_at, name); triples_new: (episode_uuid, group_id,
    valid_at, subj_name, pred, obj_name, fact).
    """
    from graphiti_spark.pipeline import build_nodes

    cfg = cfg or RunConfig()
    run_ts = cfg.run_ts

    prior_entities = prior["entities"]
    prior_pairs = prior["pairs"].select("src", "dst")
    prior_edges = prior["edges"]
    prior_map = prior.get("uuid_map")
    if prior_map is None:
        prior_map = canonical_uuid_map(prior_entities, prior_pairs)
    prior_map = prior_map.select("uuid", "canonical_uuid")

    entities_new = extracted_entities(mentions_new).localCheckpoint()

    entities_all = merge_entity_index(prior_entities, entities_new)

    # --- resolution: only new-vs-new and new-vs-prior are blocked ---
    pairs_new = duplicate_pairs(entities_new)
    pairs_cross = duplicate_pairs_between(entities_new, prior_entities)
    # localCheckpoint (not bare persist) on the delta frames: they are
    # batch/touched-subgraph sized BY DESIGN, and truncating their
    # lineage keeps the composed plan tree linear in the batch — an
    # in-memory prior would otherwise nest its full DAG into every
    # reference and blow up plan analysis/rendering.
    pairs_delta = (
        pairs_new.unionByName(pairs_cross).distinct().localCheckpoint()
    )

    # --- affected components: CC over the touched alias set only ---
    seeds = (
        entities_new.select("uuid")
        .unionByName(pairs_delta.select(F.col("src").alias("uuid")))
        .unionByName(pairs_delta.select(F.col("dst").alias("uuid")))
        .distinct()
    )
    seed_canon = (
        seeds.join(prior_map, "uuid")
        .select(F.col("canonical_uuid").alias("canon"))
        .distinct()
    )
    affected_aliases = prior_map.join(
        seed_canon, prior_map["canonical_uuid"] == seed_canon["canon"], "left_semi"
    ).select("uuid")
    local_uuids = (
        affected_aliases.unionByName(entities_new.select("uuid"))
        .distinct()
        .localCheckpoint()
    )
    touched_pairs = prior_pairs.join(
        local_uuids.withColumnRenamed("uuid", "src"), "src", "left_semi"
    )
    # every remap reads CC's alias map, as the batch build does (a uuid
    # outside it maps to itself); the identity-padded delta_map is kept
    # for the map diff, the node and community deltas and the upserts
    aliases = connected_components(
        touched_pairs.unionByName(pairs_delta).distinct()
    )
    delta_map = full_uuid_map(local_uuids, aliases).localCheckpoint()

    # prior canonicals re-pointed by the merge (identity rows whose
    # canonical moved — exactly the endpoints prior edges reference)
    repoint = (
        delta_map.join(
            prior_map.withColumnRenamed("canonical_uuid", "prior_canon"),
            "uuid",
        )
        .filter(
            (F.col("uuid") == F.col("prior_canon"))
            & (F.col("canonical_uuid") != F.col("uuid"))
        )
        .select("uuid", "canonical_uuid")
        .localCheckpoint()
    )
    uuid_map_all = prior_map.join(delta_map, "uuid", "left_anti").unionByName(
        delta_map
    )

    # --- touched prior edges (repoint ∪ key collision) ---
    rows_new = edge_provenance_rows(triples_new, aliases).localCheckpoint()
    new_keys = rows_new.select(_edge_uuid_from_key().alias("uuid")).distinct()

    rp_src = repoint.select(F.col("uuid").alias("source_node_uuid"))
    rp_dst = repoint.select(F.col("uuid").alias("target_node_uuid"))
    # dedupe NARROW uuid sets, then one semi-join fetches the wide rows:
    # dropDuplicates over embedding-wide rows would SortAggregate the
    # full 64-float payload through the exchange (CLAUDE.md gotcha)
    t_repoint_uuids = (
        prior_edges.join(rp_src, "source_node_uuid", "left_semi")
        .select("uuid")
        .unionByName(
            prior_edges.join(rp_dst, "target_node_uuid", "left_semi").select(
                "uuid"
            )
        )
        .distinct()
    )
    t_repoint = prior_edges.join(t_repoint_uuids, "uuid", "left_semi")
    # keys the re-pointed edges will occupy after remap: an untouched
    # edge already sitting on such a key must merge episodes with them
    # (no cascade: its own endpoints are not re-pointed, so its key is
    # stable — one closure step suffices)
    from graphiti_spark.functions.dedup_text import normalize_string_exact_col

    repointed_keys = (
        resolve_edge_pointers(
            t_repoint.select(
                "group_id", "source_node_uuid", "target_node_uuid", "name",
                normalize_string_exact_col(F.col("fact")).alias("fact_norm"),
            ),
            aliases,
        )
        .select(_edge_uuid_from_key().alias("uuid"))
        .distinct()
    )
    colliding_keys = new_keys.unionByName(repointed_keys).distinct()
    touched_prior = prior_edges.join(
        t_repoint_uuids.unionByName(colliding_keys).distinct(),
        "uuid",
        "left_semi",
    ).localCheckpoint()
    untouched_prior = prior_edges.join(
        touched_prior.select("uuid"), "uuid", "left_anti"
    )

    # --- merge: new rows + touched prior provenance only ---
    rows_touched = prior_edge_provenance_rows(
        touched_prior, prior["episodes"], aliases
    )
    recomputed = merge_edge_rows(
        rows_new.unionByName(rows_touched), run_ts
    ).localCheckpoint()

    merged_cols = recomputed.columns
    edges_merged = untouched_prior.select(*merged_cols).unionByName(recomputed)

    # --- temporal: recompute closings only around changed instants ---
    edges, edges_changed = _invalidate_delta(
        untouched_prior, recomputed, touched_prior, run_ts
    )

    # --- nodes: rebuild only affected canonicals ---
    affected_canon = (
        delta_map.select(F.col("canonical_uuid").alias("uuid"))
        .unionByName(repoint.select("uuid"))
        .distinct()
        .localCheckpoint()
    )
    aliases_needed = uuid_map_all.join(
        affected_canon.withColumnRenamed("uuid", "canonical_uuid"),
        "canonical_uuid",
        "left_semi",
    ).select("uuid")
    entities_restricted = entities_all.join(aliases_needed, "uuid", "left_semi")
    edges_for_nodes = edges_merged.join(
        affected_canon.withColumnRenamed("uuid", "source_node_uuid"),
        "source_node_uuid",
        "left_semi",
    )
    nodes_delta = build_nodes(
        entities_restricted, aliases, edges_for_nodes, run_ts
    )
    prior_nodes = prior["nodes"]
    nodes_untouched = prior_nodes.join(affected_canon, "uuid", "left_anti")
    nodes = nodes_untouched.select(*nodes_delta.columns).unionByName(nodes_delta)

    # --- mentions: remap only re-pointed canonicals ---
    me_new = build_mention_edges(mentions_new, aliases, run_ts)

    prior_me = prior["mention_edges"]
    me_touched = prior_me.join(
        repoint.withColumnRenamed("uuid", "entity_uuid"), "entity_uuid", "left_semi"
    )
    me_untouched = prior_me.join(
        repoint.withColumnRenamed("uuid", "entity_uuid"), "entity_uuid", "left_anti"
    )
    me_remapped = rebuild_mention_edges(
        me_touched.join(
            repoint.withColumnRenamed("uuid", "entity_uuid")
            .withColumnRenamed("canonical_uuid", "canon"),
            "entity_uuid",
        ).select(
            "episode_uuid", "group_id", F.col("canon").alias("entity_uuid")
        ),
        run_ts,
    )
    # collision dedup, probe-bounded: a remapped mention can collide only
    # with an untouched mention of the SAME episode; a new-batch mention
    # can collide with prior rows only if its episode was ingested before
    probe_eps = me_touched.select("episode_uuid").distinct()
    probe_uuids = me_untouched.join(probe_eps, "episode_uuid", "left_semi").select(
        "uuid"
    )
    me_remapped_clean = me_remapped.join(probe_uuids, "uuid", "left_anti")
    new_eps = episodes_new.select(F.col("uuid").alias("episode_uuid"))
    prior_probe = (
        me_untouched.join(new_eps, "episode_uuid", "left_semi")
        .select("uuid")
        .unionByName(
            me_remapped_clean.join(new_eps, "episode_uuid", "left_semi").select(
                "uuid"
            )
        )
    )
    me_new_clean = me_new.join(prior_probe, "uuid", "left_anti")
    mention_edges = me_untouched.select(*me_new.columns).unionByName(
        me_remapped_clean
    ).unionByName(me_new_clean)

    # --- episodes / pairs: append-only deltas ---
    prior_eps = prior["episodes"]
    eps_new_only = episodes_new.join(
        prior_eps.select("uuid"), "uuid", "left_anti"
    )
    episodes_all = prior_eps.unionByName(eps_new_only, allowMissingColumns=True)
    pairs_new_only = pairs_delta.join(prior_pairs, ["src", "dst"], "left_anti")
    pairs_all = prior_pairs.unionByName(pairs_new_only)

    # --- postings: patch the materialized index per channel ---
    from graphiti_spark.search.fulltext import build_graph_postings

    postings_delta = build_graph_postings(
        {"edges": recomputed, "nodes": nodes_delta, "episodes": eps_new_only}
    )
    removed_ids = (
        touched_prior.select(F.lit("edges").alias("channel"),
                             F.col("uuid").alias("id"))
        .unionByName(
            affected_canon.select(F.lit("nodes").alias("channel"),
                                  F.col("uuid").alias("id"))
        )
    )
    prior_postings = prior.get("postings")
    if prior_postings is not None:
        postings = (
            prior_postings.join(removed_ids, ["channel", "id"], "left_anti")
            .unionByName(postings_delta)
        )
    else:
        postings = build_graph_postings(
            {"edges": edges_merged, "nodes": nodes, "episodes": episodes_all}
        )

    # --- communities: G4 maintenance when the prior graph carries them
    # (reference add_episode(update_communities=True)). The node set the
    # batch "resolved" = canonicals of the batch's extracted entities;
    # their MERGED summaries come from nodes_delta (a superset). A prior
    # without the tables passes through unchanged — communities stay an
    # opt-in graph feature (RunConfig.with_communities seeds them).
    prior_comms = prior.get("communities")
    prior_hm = prior.get("has_member")
    comm_out: dict[str, DataFrame] = {}
    comm_delta: dict = {}
    if prior_comms is not None and prior_hm is not None:
        batch_canon = (
            entities_new.select("uuid")
            .join(delta_map, "uuid")
            .select(F.col("canonical_uuid").alias("uuid"))
            .distinct()
        )
        comm_nodes = nodes_delta.join(batch_canon, "uuid", "left_semi").select(
            "uuid", "summary"
        )
        cd = _update_communities_delta(
            prior_comms, prior_hm, repoint, edges_merged, comm_nodes, run_ts
        )
        comm_out = {
            "communities": cd["communities"],
            "has_member": cd["has_member"],
        }
        comm_delta = {
            "communities": {"upserts": cd["comm_upserts"]},
            "has_member": {
                "upserts": cd["hm_upserts"],
                "deletes": cd["hm_deletes"],
            },
        }

    # the changed-row frames a MERGE/streaming commit writes instead of
    # rewriting the graph (materialize.save_graph_delta shape:
    # per-table upserts keyed by DELTA_KEYS + optional deletes)
    delta = {
        "episodes": {"upserts": eps_new_only},
        "pairs": {"upserts": pairs_new_only},
        "uuid_map": {"upserts": delta_map},
        "entities": {
            "upserts": entities_all.join(
                entities_new.select("uuid"), "uuid", "left_semi"
            )
        },
        "edges": {
            "upserts": edges_changed,
            "deletes": touched_prior.select("uuid").join(
                recomputed.select("uuid"), "uuid", "left_anti"
            ),
        },
        "nodes": {
            "upserts": nodes_delta,
            "deletes": affected_canon.join(
                nodes_delta.select("uuid"), "uuid", "left_anti"
            ),
        },
        "mention_edges": {
            "upserts": me_remapped_clean.unionByName(me_new_clean),
            "deletes": me_touched.select("uuid"),
        },
        "postings": {"upserts": postings_delta, "deletes": removed_ids},
        **comm_delta,
        # observability: how much of the prior graph this batch touched
        "edges_touched_prior": touched_prior,
    }

    return {
        "episodes": episodes_all,
        "mentions": mentions_new,
        "triples": triples_new,
        "entities": entities_all,
        "pairs": pairs_all,
        "uuid_map": uuid_map_all,
        "edges_merged": edges_merged,
        "edges": edges,
        "nodes": nodes,
        "mention_edges": mention_edges,
        "postings": postings,
        **comm_out,
        "delta": delta,
    }


def add_triplet(
    spark: SparkSession,
    prior: dict[str, DataFrame],
    group_id: str,
    subj_name: str,
    pred: str,
    obj_name: str,
    fact: str | None = None,
    valid_at=None,
    cfg: RunConfig | None = None,
) -> dict[str, DataFrame]:
    """Manually insert ONE (subject, predicate, object) triple into the
    graph (reference add_triplet, graphiti.py:1169-1233): the triple
    bypasses extraction but runs the SAME incremental resolution tail as
    an extracted batch — exact + fuzzy LSH dedup of both endpoints
    against the prior graph, pointer remap, edge dedup/episode union,
    temporal invalidation, community maintenance, and a delta-commit map.

    Documented divergence: the reference persists NO episode for a
    manual triple (it fabricates an ephemeral EpisodicNode purely for
    temporal resolution, graphiti.py:1213-1222). This engine's
    provenance model keys every edge to provenance episodes, so the
    manual insert IS recorded as a deterministic `manual:` episode
    (uuid = sha256 of the manual url) — re-adding the identical triplet
    replays the same identities, and get_nodes_and_edges_by_episode
    works on manual inserts like any other.
    """
    from graphiti_spark.functions.smalldf import literal_df

    cfg = cfg or RunConfig()
    fact = fact or f"{subj_name} {pred} {obj_name}"
    url = f"manual:{group_id}|{fact}"
    ep_uuid = ids.episode_uuid(url)
    valid_at = valid_at if valid_at is not None else cfg.run_ts

    episodes_new = literal_df(
        spark,
        [(ep_uuid, url, group_id, "manual", "", fact, valid_at, cfg.run_ts)],
        [
            ("uuid", "string"),
            ("name", "string"),
            ("group_id", "string"),
            ("source", "string"),
            ("source_description", "string"),
            ("content", "string"),
            ("valid_at", "timestamp"),
            ("created_at", "timestamp"),
        ],
    ).persist()
    mention_cols = [
        ("episode_uuid", "string"),
        ("group_id", "string"),
        ("valid_at", "timestamp"),
        ("name", "string"),
    ]
    mentions_new = literal_df(
        spark,
        [
            (ep_uuid, group_id, valid_at, subj_name),
            (ep_uuid, group_id, valid_at, obj_name),
        ],
        mention_cols,
    )
    triples_new = literal_df(
        spark,
        [(ep_uuid, group_id, valid_at, subj_name, pred.upper(), obj_name, fact)],
        [
            ("episode_uuid", "string"),
            ("group_id", "string"),
            ("valid_at", "timestamp"),
            ("subj_name", "string"),
            ("pred", "string"),
            ("obj_name", "string"),
            ("fact", "string"),
        ],
    )
    return ingest_extracted(
        spark, episodes_new, mentions_new, triples_new, prior, cfg
    )
