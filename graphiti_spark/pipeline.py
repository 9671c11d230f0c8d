"""The end-to-end batch DAG: pages → canonical knowledge graph.

This is the Spark-first reformulation of the reference's
`add_episode_bulk` flow (graphiti_core/graphiti.py:826-1011; SURVEY.md
§3.2): extract → block → resolve → CC-canonicalize → remap → temporal
windows → materialize. Each stage is a declarative DataFrame program;
stages can be checkpointed/resumed via lineage.materialize_stage.

Without a checkpoint dir, a stage is cut (eager localCheckpoint, one
Spark job) only when a later stage reads it: episodes, token_stream,
mentions, entities, pairs, edges_merged and nodes are each read two or
more times. pages, triples, uuid_map, edges and mention_edges have one
reader each and stay lazy, so they fuse into the job of that reader
(for the last three: the caller's write). The remap joins read CC's
alias map (only the aliases that are in a duplicate pair), not the
identity-padded uuid_map; when nothing merges that map is an empty
local relation and Catalyst plans the joins away.

Stage map (SURVEY.md §2 operator ids):
  pages          S1/S2 scan + E10 text extraction (pandas UDF, byte-identical)
  episodes       EpisodicNode rows, uuid = sha256(url), valid_at = warc_ts
  mentions+triples  E1/E4 frozen-grammar extraction (native windows)
  entities       D1 exact canonicalization over distinct names
  pairs          D2-D8' LSH blocking + Jaccard + embedding fallback
  uuid_map       D13/D14 connected components, min-uuid canonical
                 (saved with identity rows; the remaps read CC's aliases)
  nodes          canonical EntityNode rows + E8 summary + E9 embeddings
  edges          D15 remap + D17 merge + T1-T3 invalidation windows
  mention_edges  MENTIONS provenance edges
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark import ids
from graphiti_spark.config import MAX_SUMMARY_CHARS, RunConfig
from graphiti_spark.functions.embed import make_embed_udf
from graphiti_spark.lineage import materialize_stage
from graphiti_spark.operators.edges import (
    build_mention_edges,
    remap_uuids,
    triples_to_edges,
)
from graphiti_spark.operators.cc import connected_components
from graphiti_spark.operators.resolve import (
    duplicate_pairs,
    extracted_entities,
    full_uuid_map,
)
from graphiti_spark.operators.temporal import invalidate_cross_predicate
from graphiti_spark.functions.typing import labels_col
from graphiti_spark.session import job_description
from graphiti_spark.sources.pages import load_pages, pages_to_episodes
from graphiti_spark.textnorm import truncate_at_sentence_col

SUMMARY_TOP_FACTS = 5


def build_nodes(
    entities: DataFrame,
    uuid_map: DataFrame,
    edges: DataFrame,
    run_ts,
    n_salt: int = None,
) -> DataFrame:
    """Canonical EntityNode table (E8 summary + E9 embeddings).

    Canonical identity: entities remapped through uuid_map (the full map
    or only CC's aliases: a uuid missing from it maps to itself); the
    surviving row is the canonical uuid's own (name, group); mention
    counts of all aliases are summed into the canonical node.
    Summary (deterministic E8): the node's top SUMMARY_TOP_FACTS subject-
    facts sorted lexicographically, '. '-joined + trailing '.', sentence-
    truncated at 500 chars (reference text_utils.py:20; node_operations.py
    :544-573 replaced per SURVEY.md E8). Nodes without facts summarize to
    their own name.
    """
    remapped = remap_uuids(entities, "uuid", uuid_map, out="canonical_uuid")
    canonical = (
        remapped.groupBy("group_id", "canonical_uuid")
        .agg(
            F.sum("mention_count").alias("mention_count"),
            # canonical row's own name = name whose uuid == canonical_uuid
            F.max(F.when(F.col("uuid") == F.col("canonical_uuid"), F.col("name"))).alias(
                "name"
            ),
        )
        .withColumnRenamed("canonical_uuid", "uuid")
    )

    # Top-k subject facts per node as a SALTED TWO-PHASE window
    # (SURVEY.md §4 skew rule): a hub entity can be the subject of a huge
    # share of the corpus's facts, and a single window partition over it
    # would serialize on one reducer. Phase 1 takes the per-salt top-k on
    # (subject, pmod(xxhash64(fact), N_SALT)) — the hub's facts spread
    # over N_SALT reducers; phase 2 takes the global top-k over the
    # ≤ k·N_SALT survivors. Result identical to the unsalted window
    # (every global top-k fact is in its salt's top-k), asserted by
    # tests/test_salting.py.
    from pyspark.sql import Window

    from graphiti_spark.config import N_SALT

    n_salt = n_salt or N_SALT
    w1 = Window.partitionBy("source_node_uuid", "salt").orderBy("fact")
    w2 = Window.partitionBy("source_node_uuid").orderBy("fact")
    top_facts = (
        edges.select("source_node_uuid", "fact")
        .distinct()
        .withColumn("salt", F.pmod(F.xxhash64("fact"), F.lit(n_salt)))
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= SUMMARY_TOP_FACTS)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= SUMMARY_TOP_FACTS)
        .groupBy("source_node_uuid")
        .agg(F.concat_ws(". ", F.array_sort(F.collect_list("fact"))).alias("facts_cat"))
    )

    embed_udf = make_embed_udf()
    out = (
        canonical.join(
            top_facts.withColumnRenamed("source_node_uuid", "uuid"), "uuid", "left"
        )
        .withColumn(
            "summary",
            truncate_at_sentence_col(
                F.when(
                    F.col("facts_cat").isNotNull(),
                    F.concat(F.col("facts_cat"), F.lit(".")),
                ).otherwise(F.col("name")),
                MAX_SUMMARY_CHARS,
            ),
        )
        .select(
            "uuid",
            "name",
            "group_id",
            # E3 typing: ["Entity", <frozen head-noun type>]
            labels_col(F.col("name")).alias("labels"),
            F.lit(run_ts).alias("created_at"),
            "summary",
            embed_udf(F.col("name")).alias("name_embedding"),
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            ).alias("attributes"),
            "mention_count",
        )
    )
    return out


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    cfg: RunConfig | None = None,
) -> dict[str, DataFrame]:
    """pages → {episodes, mentions, triples, entities, uuid_map, nodes,
    edges, mention_edges}. All outputs deterministic for a fixed cfg."""
    return run_pipeline_from_pages(spark, None, cfg, sf_dir=sf_dir)


def run_pipeline_from_pages(
    spark: SparkSession,
    pages_df: DataFrame | None,
    cfg: RunConfig | None = None,
    sf_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Same DAG over an explicit pages DataFrame (used by incremental
    ingest / batch-split tests); pass sf_dir instead to scan the corpus."""
    cfg = cfg or RunConfig()
    ckpt, rid = cfg.checkpoint_dir, cfg.run_id

    def stage(name: str, thunk, partition_by=None, reread=True) -> DataFrame:
        """Build stage ``name``; the jobs it starts carry the description
        ``stage:<name>``. ``reread``: a later stage reads it, so
        ``persist_stages=True`` cuts it."""
        with job_description(spark, f"stage:{name}"):
            if ckpt is not None:
                return materialize_stage(
                    spark, thunk, ckpt, rid, name, partition_by
                )
            # No checkpoint dir: cut a selected stage's lineage with an
            # eager localCheckpoint (one job), so later stages plan over
            # a short LogicalRDD leaf. persist() instead would nest every
            # upstream cached plan into each stage (megabyte plan
            # strings) and re-run the Python UDF stages. A stage with one
            # reader gains nothing from the cut: left lazy, it fuses into
            # that reader's job.
            persist = (
                cfg.persist_stages and reread
                if isinstance(cfg.persist_stages, bool)
                else name in cfg.persist_stages
            )
            df = thunk()
            return df.localCheckpoint() if persist else df

    # pages: the bulky html binary, read only by episodes
    pages = stage(
        "pages",
        (lambda: pages_df) if pages_df is not None else (
            lambda: load_pages(spark, sf_dir)
        ),
        reread=False,
    )
    episodes = stage("episodes", lambda: pages_to_episodes(pages, cfg.run_ts))

    # Extraction produces two outputs from ONE token stream. The stream
    # is its own stage so the posexplode + tagging pass over the corpus
    # runs once per batch, not once per output (VERDICT r03 wrong #1) —
    # mentions/triples stay separate stages, so resume is still
    # per-output in checkpoint mode.
    from graphiti_spark.operators.extract import (
        extract_token_stream,
        mentions_from_stream,
        triples_from_stream,
    )

    token_stream = stage(
        "token_stream",
        lambda: extract_token_stream(episodes, cfg.excluded_entity_types),
    )
    mentions = stage("mentions", lambda: mentions_from_stream(token_stream))
    triples = stage(
        "triples", lambda: triples_from_stream(token_stream), reread=False
    )

    entities = stage("entities", lambda: extracted_entities(mentions))
    # capped-LSH-bucket metrics: a dropped bucket is silently-lost dedup
    # recall, so it is surfaced as an output table (bench reports the
    # count; zero on healthy corpora).
    drop_sink: list = []
    pairs = stage("pairs", lambda: duplicate_pairs(entities, dropped_sink=drop_sink))
    dropped_buckets = (
        drop_sink[0]
        if drop_sink
        else spark.range(0).select(
            F.col("id").cast("string").alias("group_id"),
            F.col("id").cast("int").alias("band_idx"),
            F.col("id").cast("string").alias("band_key"),
            F.col("id").alias("bucket_n"),
        )
    )
    # D13/D14: CC's alias map holds only the uuids that are in a pair.
    # Every remap below (edges.remap_uuids) coalesces a missing uuid to
    # itself, so it gives the rows the identity-padded uuid_map would;
    # that map is built lazily, for the caller only. CC's driver regime
    # returns a local relation, which the remaps broadcast; an empty
    # alias map plans the joins away.
    with job_description(spark, "cc"):
        aliases = connected_components(pairs)
    uuid_map = stage(
        "uuid_map", lambda: full_uuid_map(entities, aliases), reread=False
    )

    edges_merged = stage(
        "edges_merged",
        lambda: triples_to_edges(triples, aliases, cfg.run_ts),
        partition_by=["group_id"] if ckpt else None,
    )
    # T1-T4 semantics: the cross-predicate either-endpoint closing
    # SUBSUMES the same-(group, subject, predicate) window — that
    # partition shares the subject endpoint, so its successor instant is
    # never earlier than the endpoint skyline's (invalidate_cross_predicate
    # docstring; equality pinned by test_temporal_t4).
    edges = stage(
        "edges",
        lambda: invalidate_cross_predicate(edges_merged, cfg.run_ts),
        reread=False,
    )
    nodes = stage(
        "nodes",
        lambda: build_nodes(entities, aliases, edges_merged, cfg.run_ts),
    )
    mention_edges = stage(
        "mention_edges",
        lambda: build_mention_edges(mentions, aliases, cfg.run_ts),
        reread=False,
    )

    # the materialized BM25 index over the graph tables (lazy — costs
    # nothing unless saved/queried; maintained as a DELTA by incremental
    # ingest instead of being rebuilt)
    from graphiti_spark.search.fulltext import build_graph_postings

    postings = build_graph_postings(
        {"edges": edges_merged, "nodes": nodes, "episodes": episodes}
    )

    # G2/G3 initial community build (opt-in): the graph state the
    # incremental ingest's G4 update maintains per batch.
    communities_out: dict[str, DataFrame] = {}
    if cfg.with_communities:
        from graphiti_spark.operators.communities import build_communities

        comm = build_communities(nodes, edges_merged, cfg.run_ts)
        # both tables come out of one label-propagation fixpoint, so
        # each is cut even though only the caller reads it
        communities_out = {
            "communities": stage("communities", lambda: comm["communities"]),
            "has_member": stage("has_member", lambda: comm["has_member"]),
        }

    return {
        "pages": pages,
        "episodes": episodes,
        "mentions": mentions,
        "triples": triples,
        "entities": entities,
        "pairs": pairs,
        "uuid_map": uuid_map,
        "nodes": nodes,
        "edges_merged": edges_merged,
        "edges": edges,
        "mention_edges": mention_edges,
        "dropped_buckets": dropped_buckets,
        "postings": postings,
        **communities_out,
    }


def flagship_select(edges: DataFrame) -> DataFrame:
    """Flagship projection over the temporal edge table: canonical triples
    with provenance scalars, ordered deterministically."""
    return edges.select(
        "uuid",
        "group_id",
        "source_node_uuid",
        "target_node_uuid",
        F.col("name").alias("predicate"),
        "fact",
        F.col("episodes").getItem(0).alias("first_episode_uuid"),
        F.size("episodes").cast("long").alias("episode_count"),
        "valid_at",
        "invalid_at",
        "expired_at",
    ).orderBy("uuid")


def flagship_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query (SURVEY.md §7 stage 1): ingest pages → canonical
    temporal triples, ordered deterministically."""
    return flagship_select(run_pipeline(spark, sf_dir)["edges"])
