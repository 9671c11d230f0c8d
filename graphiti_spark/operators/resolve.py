"""Entity resolution (SURVEY.md §2.3, D1–D10).

Reference flow (graphiti_core/utils/maintenance/node_operations.py:395-450 +
dedup_helpers.py): exact-normalized match → entropy gate → MinHash/LSH
blocking → Jaccard ≥ 0.9 accept → LLM escalation. This engine reproduces
the deterministic passes exactly (same constants) and replaces the LLM
escalation with an embedding-cosine fallback (D8', north_star).

Batch formulation (replaces the per-name loop):

  1. mentions → DISTINCT (group_id, name) candidate entities; exact
     canonicalization IS the identity `uuid = sha256(group_id|name_norm)`
     (D1: names that normalize equal share a uuid by construction).
  2. entropy gate (native columns) splits names into fuzzy-eligible vs not.
  3. fuzzy-eligible names: native shingles → MinHash (pandas UDF) →
     explode LSH bands, checkpointed so each name is MinHashed once →
     blocking.blocked_pairs on (group_id, band_idx, band_key) = THE
     blocking shuffle (reference's lsh_buckets,
     dedup_helpers.py:117-128,170-195).
  4. candidate pairs, pruned before the pair dedup by the shingle-count
     length filter of Jaccard ≥ 0.5, then in one pass: native Jaccard
     ≥ 0.5 → embed both names
     → accept Jaccard ≥ 0.9 (D7) or embedding cosine ≥ 0.95 (D8').
  5. accepted duplicate pairs → connected components (min-uuid canonical,
     D13/D14) → alias map (the uuids in a pair) → uuid_map (every
     entity, identity rows included).

Scale notes: everything after step 1 operates on DISTINCT names — orders
of magnitude smaller than the mention stream. The LSH band join is the
only quadratic-risk stage; bucket sizes are bounded by band collisions
(reference accepts the same bound), and a per-bucket cap
(blocking.capped_groups) guards pathological buckets. groupBy in step 1 does map-side partial
aggregation; hub names never concentrate because the key is the name
itself (uniform by hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphiti_spark import ids
from graphiti_spark.config import (
    EMBED_COSINE_THRESHOLD,
    FUZZY_JACCARD_THRESHOLD,
)
from graphiti_spark.functions.dedup_text import (
    entropy_gate_col,
    jaccard_col,
    jaccard_size_bound,
    lsh_band_keys_col,
    minhash_signature_udf,
    normalize_name_for_fuzzy_col,
    normalize_string_exact_col,
    shingles_col,
)
from graphiti_spark.functions.embed import cosine_col, make_embed_udf
from graphiti_spark.operators.blocking import blocked_pairs, capped_groups
from graphiti_spark.operators.edges import remap_uuids

# Guard against pathological LSH buckets (all-identical band values).
MAX_BUCKET_SIZE = 1000
BAND_KEYS = ["group_id", "band_idx", "band_key"]
CANDIDATE_JACCARD = 0.5  # below it no pair is embedded or accepted


def _size_bound():
    """The length filter of the candidate Jaccard floor: a pair it
    rejects cannot reach Jaccard ≥ 0.5."""
    return jaccard_size_bound(
        F.col("a_shingles"), F.col("b_shingles"), CANDIDATE_JACCARD
    )


def extracted_entities(mentions: DataFrame) -> DataFrame:
    """mentions(episode_uuid, group_id, name, …) → distinct candidate
    entities with deterministic exact-canonical uuids (D1)."""
    return (
        mentions.select(
            "group_id",
            normalize_string_exact_col(F.col("name")).alias("name"),
        )
        .groupBy("group_id", "name")
        .agg(F.count(F.lit(1)).alias("mention_count"))
        .withColumn("uuid", ids.entity_uuid_col(F.col("group_id"), F.col("name")))
    )


def banded_names(entities: DataFrame) -> DataFrame:
    """(uuid, group_id, name) → one row per LSH band of every
    fuzzy-eligible name: (uuid, group_id, name, shingles, band_idx,
    band_key). The shared blocking front-end of batch self-dedup (D12)
    and incremental resolve-vs-existing-graph (D9)."""
    prepared = (
        entities.withColumn("fuzzy", normalize_name_for_fuzzy_col(F.col("name")))
        .withColumn("gate", entropy_gate_col(F.col("fuzzy")))
        .filter(F.col("gate"))  # low-entropy names resolve via exact only (D3)
        .withColumn("shingles", shingles_col(F.col("fuzzy")))
        .withColumn("sig", minhash_signature_udf(F.col("shingles")))
        .withColumn("bands", lsh_band_keys_col(F.col("sig")))
    )
    # explode_outer + null filter, not explode: explode makes Spark infer
    # a size(bands) > 0 filter below the projection, which copies the
    # MinHash UDF into a second ArrowEvalPython
    return (
        prepared.select(
            "uuid",
            "group_id",
            "name",
            "shingles",
            F.explode_outer("bands").alias("band"),
        )
        .filter(F.col("band").isNotNull())
        .select(
            "uuid",
            "group_id",
            "name",
            "shingles",
            F.col("band.band_idx").alias("band_idx"),
            F.col("band.band_key").alias("band_key"),
        )
    )


def _score_candidate_pairs(pairs: DataFrame) -> DataFrame:
    """Shared D7/D8' acceptance in one pass over the candidates: Jaccard
    ≥ 0.5 → embed both names → accept Jaccard ≥ 0.9 or cosine ≥ 0.95
    (pairs at ≥ 0.9 are embedded too; their cosine cannot reject them).
    Input columns: a_uuid, a_name, a_shingles, b_uuid, b_name,
    b_shingles, one row per pair, so the output needs no distinct."""
    embed_udf = make_embed_udf()
    jaccard = jaccard_col(F.col("a_shingles"), F.col("b_shingles"))
    cos = cosine_col(embed_udf(F.col("a_name")), embed_udf(F.col("b_name")))
    return (
        pairs.select("a_uuid", "a_name", "b_uuid", "b_name", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= CANDIDATE_JACCARD)
        .filter(
            (F.col("jaccard") >= FUZZY_JACCARD_THRESHOLD)
            | (cos >= EMBED_COSINE_THRESHOLD)
        )
        .select(F.col("a_uuid").alias("src"), F.col("b_uuid").alias("dst"))
    )


def duplicate_pairs(
    entities: DataFrame, dropped_sink: list | None = None
) -> DataFrame:
    """Fuzzy duplicate discovery: LSH blocking + Jaccard + embedding
    fallback. Input: entities(uuid, group_id, name). Output: (src, dst)
    accepted duplicate pairs (src ≠ dst, undirected, distinct).

    ``dropped_sink``: optional list; if given, the dropped-bucket metrics
    DataFrame is appended (lazily evaluated by the caller)."""
    # blocked_pairs reads its rows three times: checkpoint them so the
    # MinHash UDF runs once per name
    pairs, dropped = blocked_pairs(
        banded_names(entities).localCheckpoint(),
        BAND_KEYS,
        "uuid",
        ["name", "shingles"],
        MAX_BUCKET_SIZE,
        prefilter=_size_bound(),
    )
    if dropped_sink is not None:
        dropped_sink.append(dropped)
    return _score_candidate_pairs(pairs)


def duplicate_pairs_between(
    new_entities: DataFrame,
    existing_entities: DataFrame,
    dropped_sink: list | None = None,
) -> DataFrame:
    """D9 batch form — resolve NEW names against the EXISTING graph's
    name index (reference node_operations.py:211-243 retrieves
    candidates per extracted name; here one LSH band join does it for
    the whole batch). Acceptance rules identical to duplicate_pairs.
    Output (src, dst) with src < dst so downstream CC treats the union
    of within-batch and cross-batch pairs uniformly."""
    # each side is read twice (bucket cap, pair join): MinHash it once
    new_banded = banded_names(new_entities).localCheckpoint()
    old_banded = banded_names(existing_entities).localCheckpoint()
    # cap on the combined bucket population (mirrors what one big batch
    # would have seen)
    kept_keys, dropped = capped_groups(
        new_banded.unionByName(old_banded), BAND_KEYS, MAX_BUCKET_SIZE
    )
    if dropped_sink is not None:
        dropped_sink.append(dropped)
    left = new_banded.join(kept_keys, BAND_KEYS).select(
        *BAND_KEYS,
        F.col("uuid").alias("a_uuid"),
        F.col("name").alias("a_name"),
        F.col("shingles").alias("a_shingles"),
    )
    right = old_banded.join(kept_keys, BAND_KEYS).select(
        *BAND_KEYS,
        F.col("uuid").alias("b_uuid"),
        F.col("name").alias("b_name"),
        F.col("shingles").alias("b_shingles"),
    )
    pairs = (
        left.join(right, BAND_KEYS)
        .filter(F.col("a_uuid") != F.col("b_uuid"))
        .filter(_size_bound())
        .select(
            F.least("a_uuid", "b_uuid").alias("lo"),
            F.greatest("a_uuid", "b_uuid").alias("hi"),
            F.when(F.col("a_uuid") < F.col("b_uuid"), F.col("a_name"))
            .otherwise(F.col("b_name"))
            .alias("lo_name"),
            F.when(F.col("a_uuid") < F.col("b_uuid"), F.col("b_name"))
            .otherwise(F.col("a_name"))
            .alias("hi_name"),
            F.when(F.col("a_uuid") < F.col("b_uuid"), F.col("a_shingles"))
            .otherwise(F.col("b_shingles"))
            .alias("lo_shingles"),
            F.when(F.col("a_uuid") < F.col("b_uuid"), F.col("b_shingles"))
            .otherwise(F.col("a_shingles"))
            .alias("hi_shingles"),
        )
        .dropDuplicates(["lo", "hi"])
        .select(
            F.col("lo").alias("a_uuid"),
            F.col("lo_name").alias("a_name"),
            F.col("lo_shingles").alias("a_shingles"),
            F.col("hi").alias("b_uuid"),
            F.col("hi_name").alias("b_name"),
            F.col("hi_shingles").alias("b_shingles"),
        )
    )
    return _score_candidate_pairs(pairs)


def canonical_uuid_map(entities: DataFrame, pairs: DataFrame) -> DataFrame:
    """entities × duplicate pairs → uuid_map(uuid → canonical_uuid) covering
    EVERY entity (identity rows included) — the reference's compressed
    uuid_map contract (bulk_utils.py:498-535, min-uuid root)."""
    from graphiti_spark.operators.cc import connected_components

    return full_uuid_map(entities, connected_components(pairs))


def full_uuid_map(entities: DataFrame, aliases: DataFrame) -> DataFrame:
    """CC's alias map (uuid → canonical_uuid for the uuids in a pair)
    padded with an identity row for every other entity."""
    return remap_uuids(entities.select("uuid"), "uuid", aliases, out="canonical_uuid")
