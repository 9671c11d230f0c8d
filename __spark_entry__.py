"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pages→triples pipeline at sf0.001.
``queries()``/``oracle_sql()`` expose each operator from SURVEY.md §2 for
the driver's sf0.01 DuckDB correctness gate (row-count + schema +
order-insensitive value-hash; columns sorted by name — every computed
column is aliased identically on both sides).

The pipeline stages all derive from one DAG, so queries share a
per-(session, sf_dir) persisted cache instead of recomputing the corpus
scan per query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark.config import RunConfig
from graphiti_spark.operators.maintenance import (
    get_by_group_ids,
    remove_episode,
)
from graphiti_spark.operators.temporal import episode_context_window
from graphiti_spark.oracle import oracle_queries
from graphiti_spark.pipeline import flagship_select, run_pipeline

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
# (id(session), sf_dir) → (weakref to owning session, outputs). The id
# keeps concurrent live sessions from evicting each other; the weakref
# liveness check guards against CPython recycling a dead session's id.
_CACHE: dict[tuple, tuple] = {}


def _session_alive(spark: SparkSession) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _pipe(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Run (or fetch) the cached pipeline outputs for one sf_dir.

    Cached DataFrames are bound to the SparkSession that created them;
    the cache serves them only to that same, still-running session."""
    import weakref

    key = (id(spark), sf_dir)
    cached = _CACHE.get(key)
    if cached is not None:
        ref, out = cached
        if ref() is spark and _session_alive(spark):
            return out
    out = run_pipeline(spark, sf_dir, RunConfig())  # stages self-checkpoint
    _CACHE[key] = (weakref.ref(spark), out)
    return out


def _fmt_ts(df: DataFrame, *cols: str) -> DataFrame:
    """Render timestamp columns as 'yyyy-MM-dd HH:mm:ss' strings so the
    value-hash comparison is byte-deterministic vs DuckDB strftime."""
    for c in cols:
        df = df.withColumn(c, F.date_format(F.col(c), _TS_FMT))
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: ingest Common-Crawl-style
    pages → canonical, temporally-invalidated knowledge-graph triples."""
    out = _pipe(spark, "/root/testdata/sf0.001")
    return flagship_select(out["edges"])


# --------------------------------------------------------------- queries ---

def _q_pages_text(spark, sf_dir):
    return _pipe(spark, sf_dir)["pages"].select("url", "text", "lang", "group_id")


def _q_episodes(spark, sf_dir):
    df = _pipe(spark, sf_dir)["episodes"].select(
        "uuid", "name", "group_id", "content", "valid_at"
    )
    return _fmt_ts(df, "valid_at")


def _q_mentions(spark, sf_dir):
    return _pipe(spark, sf_dir)["mentions"].select("episode_uuid", "group_id", "name")


def _q_pronoun_links(spark, sf_dir):
    """E1 pronoun disambiguation (r4, standalone): each pronoun token
    resolves to the nearest preceding surviving mention in its episode
    — the deterministic recency heuristic standing in for the
    reference's LLM pronoun resolution (prompts/extract_nodes.py). The
    frozen default grammar skips pronouns by contract, so this never
    perturbs the expected-triple set. The corpus carries no natural
    pronouns, so both engines append the same deterministic pronoun
    clause to every episode (the docs_pii augmentation device) — each
    pronoun must resolve to the LAST surviving mention of its doc."""
    from graphiti_spark.operators.extract import pronoun_mentions

    eps = _pipe(spark, sf_dir)["episodes"].withColumn(
        "content",
        F.concat(
            F.col("content"), F.lit(" then it failed and they recovered")
        ),
    )
    return pronoun_mentions(eps).orderBy("episode_uuid", "pronoun_idx")


def _q_triples(spark, sf_dir):
    return _pipe(spark, sf_dir)["triples"].select(
        "episode_uuid", "group_id", "subj_name", "pred", "obj_name", "fact"
    )


def _q_entities(spark, sf_dir):
    return _pipe(spark, sf_dir)["entities"].select(
        "uuid", "group_id", "name", "mention_count"
    )


def _edges_scalarized(edges: DataFrame) -> DataFrame:
    """Project provenance-array columns to hashable scalars."""
    return edges.select(
        "*",
        F.size("episodes").cast("long").alias("episode_count"),
        F.element_at("episodes", 1).alias("first_episode_uuid"),
        F.element_at("episodes", -1).alias("last_episode_uuid"),
    )


def _q_edges_merged(spark, sf_dir):
    df = _edges_scalarized(_pipe(spark, sf_dir)["edges_merged"]).select(
        "uuid", "group_id", "source_node_uuid", "target_node_uuid", "name",
        "fact", "valid_at", "episode_count", "first_episode_uuid",
        "last_episode_uuid",
    )
    return _fmt_ts(df, "valid_at")


def _q_edges_temporal(spark, sf_dir):
    df = _pipe(spark, sf_dir)["edges"].select(
        "uuid", "group_id", "source_node_uuid", "target_node_uuid", "name",
        "fact", "valid_at", "invalid_at", "expired_at",
    )
    return _fmt_ts(df, "valid_at", "invalid_at", "expired_at")


def _q_flagship(spark, sf_dir):
    df = flagship_select(_pipe(spark, sf_dir)["edges"])
    return _fmt_ts(df, "valid_at", "invalid_at", "expired_at")


def _q_nodes(spark, sf_dir):
    return _pipe(spark, sf_dir)["nodes"].select(
        "uuid", "name", "group_id", "mention_count", "summary",
        F.element_at("labels", -1).alias("label"),
    )


def _q_typed_exclusion(spark, sf_dir):
    """E3 end-to-end: the pipeline with excluded_entity_types=('System',)
    — System-typed mentions are suppressed pre-window, so their facts
    and nodes never materialize."""
    from graphiti_spark.config import BATCH_PERSIST_STAGES
    from graphiti_spark.pipeline import run_pipeline

    cfg = RunConfig(
        excluded_entity_types=("System",), persist_stages=BATCH_PERSIST_STAGES
    )
    nodes = run_pipeline(spark, sf_dir, cfg)["nodes"]
    return nodes.select(
        "uuid", "name", "group_id", "mention_count",
        F.element_at("labels", -1).alias("label"),
    )


def _q_edges_type_enforced(spark, sf_dir):
    """D19 on real pipeline output: every extracted predicate is a
    custom type; names not permitted for the (src_label, dst_label)
    pair reset to RELATES_TO."""
    from graphiti_spark.config import CUSTOM_EDGE_TYPES, EDGE_TYPE_MAP
    from graphiti_spark.operators.edge_dedup import enforce_edge_types

    out = _pipe(spark, sf_dir)
    enforced = enforce_edge_types(
        out["edges_merged"], out["nodes"], EDGE_TYPE_MAP,
        set(CUSTOM_EDGE_TYPES),
    )
    return enforced.select(
        "uuid", "group_id", "source_node_uuid", "target_node_uuid", "name",
        "fact",
    )


def _q_mention_edges(spark, sf_dir):
    return _pipe(spark, sf_dir)["mention_edges"].select(
        "uuid", "group_id", "episode_uuid", "entity_uuid"
    )


def _q_episode_context(spark, sf_dir):
    return episode_context_window(_pipe(spark, sf_dir)["episodes"], last_n=3)


def _q_nodes_paginated(spark, sf_dir):
    return get_by_group_ids(
        _pipe(spark, sf_dir)["entities"].select(
            "uuid", "group_id", "name", "mention_count"
        ),
        ["src1", "src2"],
        limit=50,
        uuid_cursor="8",
    )


def _q_remove_episode_edges(spark, sf_dir):
    out = _pipe(spark, sf_dir)
    victim = out["episodes"].agg(F.min("uuid")).collect()[0][0]
    surviving = remove_episode(
        out["edges_merged"], out["mention_edges"], out["nodes"], victim
    )["edges"]
    return surviving.select(
        "uuid", "group_id", "source_node_uuid", "target_node_uuid", "name", "fact"
    )


def _q_bm25_documents(spark, sf_dir):
    from graphiti_spark.search.fulltext import bm25_search, build_postings

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = build_postings(docs, "doc_id", "text")
    return bm25_search(idx, ["fast", "merge", "table"], limit=10)


def _query_vec(spark, sf_dir, vec_id=0):
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .collect()[0]
    )
    return list(row[0])


def _q_cosine_topk(spark, sf_dir):
    from graphiti_spark.search.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, _query_vec(spark, sf_dir), limit=10)


def _q_ann_lsh(spark, sf_dir):
    from graphiti_spark.search.similarity import cosine_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_lsh(emb, _query_vec(spark, sf_dir), limit=10)


def _q_ann_ivf(spark, sf_dir):
    from graphiti_spark.search.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_ivf(
        emb, _query_vec(spark, sf_dir), limit=10, n_cells=16, n_probe=4
    )


def _q_embeddings_knn_mutual(spark, sf_dir):
    """Mutual-nearest-neighbour pairs from the IVF-cell-bounded kNN
    graph (r4): each vector's top-3 within-cell cosine neighbours, then
    pairs where BOTH directions survive — the classic high-precision
    merge signal for agglomerative dedup. DuckDB re-derives cells, all
    within-cell cosines, the identical (cos desc, nbr asc) top-k, and
    the reciprocal join."""
    from graphiti_spark.search.similarity import knn_graph, mutual_nn_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return mutual_nn_pairs(knn_graph(emb, k=3, n_cells=16)).orderBy(
        "a_id", "b_id"
    )


def _q_embeddings_rnn_clusters(spark, sf_dir):
    """Reciprocal-NN agglomeration (r4): mutual-nearest-neighbour pairs
    → connected components → min-id cluster per vector — the
    high-precision semantic grouping step (only vectors that choose
    EACH OTHER merge, so chains stay tight). Composes the kNN graph,
    the reciprocal join, and the distributed CC; DuckDB re-derives all
    three plus the min-prop closure."""
    from graphiti_spark.operators.dedup_docs import canonical_docs
    from graphiti_spark.search.similarity import knn_graph, mutual_nn_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # mutual_nn_pairs self-joins the kNN frame (2 references) and CC
    # iterates on top — checkpoint the small edge frame so the composed
    # plan stays KB-scale during verify (VERDICT r4 wrong #4)
    knn = knn_graph(emb, k=3, n_cells=16).localCheckpoint(eager=True)
    pairs = mutual_nn_pairs(knn)
    return canonical_docs(
        emb.select("vec_id"), pairs, id_col="vec_id"
    ).orderBy("id")


def _q_ann_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH (r4): 8 tables probing the base bucket PLUS the
    two boundary-bit flips per table — ~the recall of 2-3x the tables
    with no extra index. DuckDB re-derives the hyperplanes, the per-bit
    query dots, the identical (|dot|, bit) flip ordering, and the same
    candidate join."""
    from graphiti_spark.search.similarity import cosine_topk_lsh_multiprobe

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_lsh_multiprobe(
        emb, _query_vec(spark, sf_dir), limit=10,
        n_tables=8, n_bits=8, n_probe_bits=2,
    )


def _q_ann_ivf_kmeans(spark, sf_dir):
    """IVF top-k over k-means-REFINED centroids (r4): kmeans_lloyd's
    output drops straight into cosine_topk_ivf's ``centroids`` slot —
    the drop-in contract the IVF module promises for offline-trained
    cells. The oracle unrolls the identical two Lloyd rounds, then runs
    the identical probe/scan arithmetic over the refined centroids."""
    from graphiti_spark.operators.kmeans import kmeans_lloyd
    from graphiti_spark.search.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_ivf(
        emb,
        _query_vec(spark, sf_dir),
        limit=10,
        n_probe=3,
        centroids=kmeans_lloyd(emb, n_cells=8, n_iter=2),
    )


def _q_ann_ivf_quantized(spark, sf_dir):
    """IVF top-k over the int8-quantized index (the 4x-bandwidth scan
    path): probe cells are chosen on full precision, the candidate scan
    reads dequantized codes. The oracle re-derives the identical affine
    codes (round((x - vmin)/scale) with scale = range/255 — exact IEEE
    doubles both sides) and scores the same dequantized vectors."""
    from graphiti_spark.search.similarity import cosine_topk_ivf_quantized

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_ivf_quantized(
        emb, _query_vec(spark, sf_dir), limit=10, n_cells=16, n_probe=4
    )


def _q_ann_ivf_incremental(spark, sf_dir):
    """Incremental IVF index-add (r4): centroids are trained on (hash-
    sampled from) the PRIOR corpus and FROZEN; the new batch
    (vec_id % 5 == 0) is assigned to the existing cells and unioned into
    the index — no rebuild, the 100 TB maintenance path. The oracle
    recomputes the same frozen-centroid index over the union, proving
    add-then-search == build-with-same-centroids-then-search."""
    from graphiti_spark.functions.smalldf import literal_df
    from graphiti_spark.search.similarity import (
        cosine_topk_ivf,
        ivf_assign,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    prior = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    # collect the centroid rows ONCE (bounded by n_cells) and assign both
    # sides against the literal — the documented calling convention that
    # keeps the centroid plan from re-executing inside each broadcast
    cent_rows = ivf_centroids(prior, n_cells=16).collect()
    cent_lit = literal_df(
        spark,
        [(r["cid"], [float(x) for x in r["cvec"]]) for r in cent_rows],
        [("cid", "bigint"), ("cvec", "array<double>")],
    )
    assigned = ivf_assign(prior, cent_lit).unionByName(
        ivf_assign(new, cent_lit)
    )
    return cosine_topk_ivf(
        emb, _query_vec(spark, sf_dir), limit=10, n_probe=4,
        assigned=assigned, centroids=cent_lit,
    )


def _q_mmr(spark, sf_dir):
    from graphiti_spark.search.fuse import mmr_rerank
    from graphiti_spark.search.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = _query_vec(spark, sf_dir)
    cands = cosine_topk(emb, qv, limit=20).join(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        "id",
    )
    return mmr_rerank(cands, qv, limit=10)


def _q_bfs_reachable(spark, sf_dir):
    from graphiti_spark.search.graph import bfs_nodes

    edges = _pipe(spark, sf_dir)["edges_merged"]
    origin = edges.agg(F.min("source_node_uuid")).collect()[0][0]
    return bfs_nodes(edges, [origin], max_depth=3)


def _q_node_distance(spark, sf_dir):
    from graphiti_spark.search.graph import node_distance_rerank

    edges = _pipe(spark, sf_dir)["edges_merged"].filter(F.col("group_id") == "src1")
    center = edges.agg(F.min("source_node_uuid")).collect()[0][0]
    cands = (
        edges.select(F.col("source_node_uuid").alias("uuid"))
        .union(edges.select(F.col("target_node_uuid").alias("uuid")))
        .distinct()
    )
    return node_distance_rerank(cands, edges, center)


def _q_mentions_rerank(spark, sf_dir):
    from graphiti_spark.search.graph import episode_mentions_rerank

    out = _pipe(spark, sf_dir)
    cands = out["mention_edges"].select(F.col("entity_uuid").alias("uuid")).distinct()
    return episode_mentions_rerank(cands, out["mention_edges"])


def _q_neighbor_weights(spark, sf_dir):
    from graphiti_spark.search.graph import neighbor_weights

    return neighbor_weights(_pipe(spark, sf_dir)["edges_merged"])


def _q_graph_asof_diff(spark, sf_dir):
    """Bi-temporal as-of diff (r4): edges added/removed between two
    event times — live(t) = valid_at ≤ t < invalid_at (open-ended when
    never invalidated). One shuffle-free pass over the temporal edges;
    the downstream-sync primitive of the bi-temporal model."""
    from datetime import datetime, timezone

    from graphiti_spark.operators.temporal import asof_diff

    t1 = datetime(2024, 1, 1, 2, 0, tzinfo=timezone.utc)
    t2 = datetime(2024, 1, 1, 6, 0, tzinfo=timezone.utc)
    d = asof_diff(_pipe(spark, sf_dir)["edges"], t1, t2)
    return _fmt_ts(
        d.select(
            "uuid",
            "source_node_uuid",
            "target_node_uuid",
            "name",
            "valid_at",
            "invalid_at",
            "status",
        ),
        "valid_at",
        "invalid_at",
    ).orderBy("uuid")


def _q_filtered_edges(spark, sf_dir):
    from datetime import datetime, timezone

    from graphiti_spark.search.filters import SearchFilters, apply_filters

    f = SearchFilters(
        group_ids=["src1", "src3"],
        date_filters=[
            [
                ("valid_at", "<", datetime(2024, 1, 2, tzinfo=timezone.utc)),
                ("invalid_at", "is_not_null", None),
            ]
        ],
    )
    df = apply_filters(_pipe(spark, sf_dir)["edges"], f, "edge").select(
        "uuid", "group_id", "name", "valid_at", "invalid_at"
    )
    return _fmt_ts(df, "valid_at", "invalid_at")


def _q_communities(spark, sf_dir):
    from graphiti_spark.operators.communities import build_communities
    from graphiti_spark.config import DEFAULT_RUN_TS

    out = _pipe(spark, sf_dir)
    comm = build_communities(out["nodes"], out["edges_merged"], DEFAULT_RUN_TS)
    return comm["communities"].select("uuid", "name", "group_id", "member_count")


def _q_episodes_by_mentions(spark, sf_dir):
    """Reverse provenance fetch (r5 — reference get_episodes_by_mentions,
    search_utils.py:113-125): the episodes cited by the 5
    lexicographically-first merged edges' provenance arrays. The oracle
    re-derives each probe edge's citation set from the triples relation
    (edge uuid is a pure function of the merge key), so a hash match
    proves the provenance arrays themselves."""
    from graphiti_spark.operators.maintenance import get_episodes_by_mentions

    out = _pipe(spark, sf_dir)
    probe = out["edges_merged"].orderBy("uuid").limit(5)
    df = get_episodes_by_mentions(probe, out["episodes"], limit=10).select(
        "uuid", "name", "group_id", "content", "valid_at"
    )
    return _fmt_ts(df, "valid_at")


def _q_communities_cosine(spark, sf_dir):
    """Community similarity channel (r5 — reference
    community_similarity_search, search_utils.py:1022-1129): cosine
    top-10 over community name embeddings through the real
    community_similarity_search operator. The hash name_embedding is
    swapped for a parquet vector keyed by the community uuid's first 4
    hex chars (the _map_edge_embeddings device) so DuckDB reproduces
    score and ranking exactly; min_score=None because the mapped
    vectors are unrelated to the query text (the operator's 0.6
    reference default would empty the result)."""
    from graphiti_spark.config import DEFAULT_RUN_TS
    from graphiti_spark.operators.communities import build_communities
    from graphiti_spark.search.similarity import community_similarity_search

    out = _pipe(spark, sf_dir)
    comm = build_communities(out["nodes"], out["edges_merged"], DEFAULT_RUN_TS)[
        "communities"
    ]
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vecs = emb.count()
    mapped = (
        comm.drop("name_embedding")
        .withColumn(
            "vec_id",
            F.conv(F.substring("uuid", 1, 4), 16, 10).cast("long") % n_vecs,
        )
        .join(
            F.broadcast(
                emb.select("vec_id", F.col("embedding").alias("name_embedding"))
            ),
            "vec_id",
        )
    )
    return community_similarity_search(
        mapped, _query_vec(spark, sf_dir), limit=10, min_score=None
    )


def _comm_incr(spark, sf_dir):
    """Shared computation of the two G4 incremental-community queries:
    run the prior half (WITHIN-group split — see oracle.py
    COMM_INCR_PRIOR_PRED) with communities built, then ingest the batch
    half incrementally; `ingest_incremental` maintains the communities/
    has_member tables per batch (reference add_episode(
    update_communities=True) → update_community,
    community_operations.py:246-331). Cached per (session, sf_dir) like
    _pipe — the two queries hash different projections of one run."""
    import weakref

    from graphiti_spark.operators.incremental import ingest_incremental
    from graphiti_spark.oracle import COMM_INCR_BATCH_PRED, COMM_INCR_PRIOR_PRED
    from graphiti_spark.pipeline import run_pipeline_from_pages
    from graphiti_spark.sources.pages import load_pages

    key = (id(spark), sf_dir, "comm_incr")
    cached = _CACHE.get(key)
    if cached is not None:
        ref, out = cached
        if ref() is spark and _session_alive(spark):
            return out
    pages = load_pages(spark, sf_dir).persist()
    cfg = RunConfig(with_communities=True)
    out_a = run_pipeline_from_pages(
        spark, pages.filter(F.expr(COMM_INCR_PRIOR_PRED)), cfg
    )
    merged = ingest_incremental(
        spark, pages.filter(F.expr(COMM_INCR_BATCH_PRED)), out_a, cfg
    )
    out = {
        "communities": merged["communities"].localCheckpoint(),
        "has_member": merged["has_member"].localCheckpoint(),
    }
    _CACHE[key] = (weakref.ref(spark), out)
    return out


def _q_communities_incremental(spark, sf_dir):
    return _comm_incr(spark, sf_dir)["communities"].select(
        "uuid", "name", "group_id", "member_count"
    )


def _q_has_member_incremental(spark, sf_dir):
    return _comm_incr(spark, sf_dir)["has_member"].select(
        "community_uuid", "entity_uuid"
    )


def _map_edge_embeddings(spark, sf_dir, edges: DataFrame) -> DataFrame:
    """Replace fact_embedding with a vector from embeddings.parquet keyed
    by a hex-prefix of the edge uuid — a DuckDB-reproducible mapping
    (conv(substr(uuid,1,4),16,10) % n_vecs) shared by every oracle that
    needs real-valued edge embeddings (hybrid_search_edges,
    invalidation_candidates). One definition so the Spark device and its
    SQL twins can never drift apart silently."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vecs = emb.count()
    return (
        edges.withColumn(
            "vec_id",
            F.conv(F.substring("uuid", 1, 4), 16, 10).cast("long") % n_vecs,
        )
        .drop("fact_embedding")
        .join(
            F.broadcast(
                emb.select("vec_id", F.col("embedding").alias("fact_embedding"))
            ),
            "vec_id",
        )
    )


def _q_hybrid_search(spark, sf_dir):
    """Q1 over the GRAPH edges through the real search() driver, fully
    oracled (was rows-only in r2): edges carry embeddings mapped from
    the parquet table by a hex-prefix of their uuid, and the query
    vector is embeddings row 0, so DuckDB reproduces both channels
    (BM25 over name+fact, cosine over the mapped vectors) and the RRF
    fusion exactly."""
    from graphiti_spark.search.hybrid import EDGE_HYBRID_SEARCH_RRF, search

    out = _pipe(spark, sf_dir)
    edges = _map_edge_embeddings(spark, sf_dir, out["edges"])
    res = search(
        "fast table merge",
        EDGE_HYBRID_SEARCH_RRF,
        edges=edges,
        mention_edges=out["mention_edges"],
        query_vec=_query_vec(spark, sf_dir),
    )
    return res["edges"]


def _q_hybrid_search_docs(spark, sf_dir):
    """Q1 composition with a full oracle: BM25 + cosine channels over the
    documents/embeddings corpus, RRF-fused (query vector = embeddings
    row 0 so DuckDB can reproduce the cosine channel exactly)."""
    from graphiti_spark.search.fulltext import bm25_search, build_postings
    from graphiti_spark.search.fuse import rrf
    from graphiti_spark.search.similarity import cosine_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bm25 = bm25_search(
        build_postings(docs, "doc_id", "text"), ["fast", "merge", "table"],
        limit=20,
    )
    cos = cosine_topk(emb, _query_vec(spark, sf_dir), limit=20)
    return rrf([bm25, cos], limit=10)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_docs_exact_dedup(spark, sf_dir):
    from graphiti_spark.operators.dedup_docs import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_docs_near_dup(spark, sf_dir):
    from graphiti_spark.operators.dedup_docs import minhash_near_dup

    return minhash_near_dup(_docs(spark, sf_dir), threshold=0.95, mode="word")


def _q_docs_packed(spark, sf_dir):
    """Sequence packing (concat-and-chunk): the id-ordered corpus token
    stream cut into 128-token training sequences, one row per
    (sequence, doc) overlap segment. Spark computes the running offset
    with a two-pass bucket prefix sum (no global single-partition
    window over the corpus); DuckDB's global cumsum is the independent
    twin."""
    from graphiti_spark.operators.curation import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=128)


def _q_docs_dup_spans(spark, sf_dir):
    """Exact-substring duplicate spans (Lee et al. 2021 suffix-array
    dedup, k-gram relaxation, k=8 tokens): maximal token runs occurring
    more than once anywhere in the corpus. The DuckDB twin recomputes
    gram hashing + gaps-and-islands independently — a hash match proves
    span boundaries, not just counts."""
    from graphiti_spark.operators.dedup_docs import dup_spans

    return dup_spans(_docs(spark, sf_dir), k=8)


def _q_docs_dup_spans_incremental(spark, sf_dir):
    """Incremental span dedup: the doc_id % 5 == 0 batch against the
    prior corpus's standing gram index — output is the recomputed spans
    for new ∪ touched prior docs only (touched = docs holding a gram
    the batch flipped from unique to duplicated). The oracle recomputes
    the touched set independently from the full corpus, so a hash match
    proves the repair-set bound, not just the span math."""
    from graphiti_spark.operators.dedup_docs import (
        build_gram_index,
        dup_spans_incremental,
    )

    docs = _docs(spark, sf_dir)
    prior = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return dup_spans_incremental(new, build_gram_index(prior))


def _q_docs_despanned(spark, sf_dir):
    """Rewrite twin of docs_dup_spans: every duplicated span's tokens
    dropped (all copies — ExactSubstr semantics); output is the
    normalized surviving text + kept/dropped counts per doc."""
    from graphiti_spark.operators.dedup_docs import drop_dup_spans

    return drop_dup_spans(_docs(spark, sf_dir), k=8)


def _q_docs_near_dup_word3(spark, sf_dir):
    """Order-sensitive near-dup: 3-token-gram shingles (word3 mode) —
    prose reordering breaks gram identity where word-set Jaccard
    wouldn't. Threshold lowered so the gate exercises non-trivial rows."""
    from graphiti_spark.operators.dedup_docs import minhash_near_dup

    return minhash_near_dup(_docs(spark, sf_dir), threshold=0.8, mode="word3")


def _q_docs_near_dup_incremental(spark, sf_dir):
    """Incremental corpus dedup (r4): the NEW batch (doc_id % 5 == 0)
    dedups against a PREBUILT LSH index of the prior corpus — new x new
    and new x prior pairs only, never prior x prior. The oracle is the
    brute-force ground truth over the union restricted to pairs touching
    the batch, so equality also proves the index join keeps full recall
    at τ=0.95 on this corpus."""
    from graphiti_spark.operators.dedup_docs import (
        build_minhash_index,
        minhash_near_dup_incremental,
    )

    docs = _docs(spark, sf_dir)
    prior = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return minhash_near_dup_incremental(
        new, build_minhash_index(prior), prior, threshold=0.95, mode="word"
    )


def _q_docs_simhash(spark, sf_dir):
    from graphiti_spark.operators.dedup_docs import simhash_near_dup

    return simhash_near_dup(_docs(spark, sf_dir), max_hamming=3, mode="word")


def _q_docs_canonical(spark, sf_dir):
    from graphiti_spark.operators.dedup_docs import canonical_docs, minhash_near_dup

    docs = _docs(spark, sf_dir)
    return canonical_docs(docs, minhash_near_dup(docs, threshold=0.95, mode="word"))


def _q_docs_representatives(spark, sf_dir):
    """Quality-based cluster representative selection (r4): per
    near-dup cluster keep the highest-quality member (ties → min id)
    instead of the arbitrary min-id canonical — one map-side-combinable
    min(struct) agg, no window. The oracle recomputes the identical
    canonical closure, the identical quality arithmetic, and the same
    (score desc, id asc) winner rule."""
    from graphiti_spark.operators.dedup_docs import (
        canonical_docs,
        minhash_near_dup,
        representative_docs,
    )
    from graphiti_spark.operators.textstats import quality_score

    docs = _docs(spark, sf_dir)
    canon = canonical_docs(
        docs, minhash_near_dup(docs, threshold=0.95, mode="word")
    )
    return representative_docs(
        canon, quality_score(docs).select("id", "score")
    ).orderBy("canonical_id")


def _q_docs_edit_distance_pairs(spark, sf_dir):
    """Edit-distance-1 string-similarity self-join (r4) over 32-char
    normalized text prefixes — PassJoin-style half-segment pigeonhole
    blocking + Levenshtein verify. The oracle is brute-force all-pairs
    Levenshtein, so the hash match PROVES the blocking's full recall."""
    from graphiti_spark.operators.dedup_docs import (
        edit_distance_pairs,
        normalize_text_col,
    )

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.substring(normalize_text_col(F.col("text")), 1, 32).alias("s"),
    )
    return edit_distance_pairs(d).orderBy("a_id", "b_id")


def _q_docs_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size histogram (r4): how much of the corpus
    sits in clusters of size 1, 2, 3… — the dedup-health metric that
    catches template farms (mass in big clusters) at a glance. One
    combinable count per cluster + one per size; the oracle re-derives
    the canonical closure and the identical double aggregation."""
    from graphiti_spark.operators.dedup_docs import (
        canonical_docs,
        minhash_near_dup,
    )

    docs = _docs(spark, sf_dir)
    canon = canonical_docs(
        docs, minhash_near_dup(docs, threshold=0.95, mode="word")
    )
    sizes = canon.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            "n_docs",
        )
    )


def _q_docs_split_clusters(spark, sf_dir):
    """Leakage-safe corpus split (r4): train/val/test assigned by a
    deterministic 52-bit sha-uniform on the near-dup CANONICAL id, so a
    whole near-duplicate cluster lands in one split and eval never sees
    a train twin. The oracle recomputes the identical canonical closure
    and the identical draw/boundaries (IEEE running sum both sides)."""
    from graphiti_spark.operators.dedup_docs import canonical_docs, minhash_near_dup
    from graphiti_spark.operators.sampling import split_by_cluster

    docs = _docs(spark, sf_dir)
    canon = canonical_docs(docs, minhash_near_dup(docs, threshold=0.95, mode="word"))
    return split_by_cluster(canon, {"train": 0.9, "val": 0.05, "test": 0.05})


def _q_docs_contrastive_pairs(spark, sf_dir):
    """Contrastive training triples from the dedup machinery (r4):
    near-dup pairs symmetrized into (anchor, positive) examples, k=3
    deterministic uniform negatives per example via the bucketed exact
    inverse-CDF (unit weights). The DuckDB twin mines positives by
    brute-force Jaccard and re-derives every draw with a direct rank
    join — two formulations, identical rows."""
    from graphiti_spark.operators.dedup_docs import (
        contrastive_pairs,
        minhash_near_dup,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_near_dup(docs, threshold=0.95, mode="word")
    return contrastive_pairs(docs, pairs, k_neg=3).orderBy(
        "anchor", "pos", "neg_idx"
    )


def _q_docs_dup_rate_by_host(spark, sf_dir):
    """Near-dup rate per host (r4): 1 − clusters/docs — the template-
    farm signal (a host whose pages collapse into few near-dup clusters
    is machine-generated). Canonicals from the same minhash closure as
    docs_canonical; hosts from the closed-form crawl-URL derivation."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.dedup_docs import (
        canonical_docs,
        dup_rate_by_group,
        minhash_near_dup,
    )
    from graphiti_spark.operators.weblinks import canonicalize_url, host_of
    from graphiti_spark.sources.links import load_links

    docs = _docs(spark, sf_dir)
    canon = canonical_docs(docs, minhash_near_dup(docs, threshold=0.95, mode="word"))
    hosts = load_links(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        host_of(canonicalize_url(F.col("url"))).alias("host"),
    )
    return dup_rate_by_group(canon.join(hosts, "id")).orderBy("host")


def _q_docs_canonical_incremental(spark, sf_dir):
    """Incremental canonical maintenance (r4): the standing (id,
    canonical_id) table built from the PRIOR corpus (doc_id % 5 != 0) is
    updated with the new batch's incremental dedup pairs — only touched
    components re-enter CC; untouched rows pass through. The oracle is
    the full ``docs_canonical`` rebuild over the union, so a hash match
    proves incremental ≡ rebuild including cross-component bridges."""
    from graphiti_spark.operators.dedup_docs import (
        build_minhash_index,
        canonical_docs,
        canonical_docs_incremental,
        minhash_near_dup,
        minhash_near_dup_incremental,
    )

    docs = _docs(spark, sf_dir)
    prior = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    prior_canon = canonical_docs(
        prior, minhash_near_dup(prior, threshold=0.95, mode="word")
    )
    inc_pairs = minhash_near_dup_incremental(
        new, build_minhash_index(prior), prior, threshold=0.95, mode="word"
    )
    return canonical_docs_incremental(prior_canon, new, inc_pairs)


def _q_dedup_state_stream(spark, sf_dir):
    """Streaming corpus dedup ≡ one-shot rebuild, proven in the driver
    gate: the documents table split into two feed commits, each drained
    as a micro-batch (foreachBatch → incremental pairs vs the standing
    LSH index → touched-components canon update → versioned delta
    commit); the final state's canon table equals ``canonical_docs``
    over the whole corpus, so the oracle IS the full-rebuild SQL
    (same DuckDB closure as docs_canonical)."""
    import os
    import shutil
    import tempfile

    from graphiti_spark.operators.dedup_state import (
        load_dedup_state,
        run_streaming_dedup,
    )

    tmp = tempfile.mkdtemp(prefix="q_dedup_state_")
    try:
        feed = os.path.join(tmp, "feed")
        state = os.path.join(tmp, "state")
        ckpt = os.path.join(tmp, "ckpt")
        docs = _docs(spark, sf_dir)
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
            os.path.join(feed, "part=a")
        )
        run_streaming_dedup(spark, feed + "/part=a", state, ckpt + "1")
        docs.filter(F.col("doc_id") % 2 == 1).write.parquet(
            os.path.join(feed, "part=b")
        )
        run_streaming_dedup(spark, feed + "/part=b", state, ckpt + "2")

        got = load_dedup_state(spark, state)
        out = got["canon"].select("id", "canonical_id")
        # detach from the state parquet before the finally-rmtree
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_dedup_state_takedown(spark, sf_dir):
    """Takedown law, hash-proved in the driver gate: build the standing
    dedup state over the whole corpus, ``remove_docs`` the
    ``doc_id % 10 == 7`` slice, return the repaired canonical mapping.
    The oracle is the docs_canonical closure over the REMAINING corpus,
    so a hash match proves remove ≡ rebuild — including cluster SPLITS,
    which only the retained pairs evidence can decide (canon alone is a
    contraction)."""
    from graphiti_spark.operators.dedup_state import (
        init_dedup_state,
        remove_docs,
    )

    docs = _docs(spark, sf_dir)
    state = init_dedup_state(docs)
    doomed = docs.filter(F.col("doc_id") % 10 == 7).select(
        F.col("doc_id").alias("id")
    )
    return remove_docs(doomed, state)["canon"].select("id", "canonical_id")


def _q_docs_despanned_raw(spark, sf_dir):
    """Case-preserving ExactSubstr rewrite: duplicate spans are decided
    on the normalized stream but cut from the RAW token stream (1:1
    position alignment — normalization never merges or splits tokens),
    so surviving case/punctuation bytes reach the output."""
    from graphiti_spark.operators.dedup_docs import drop_dup_spans

    return drop_dup_spans(_docs(spark, sf_dir), k=8, keep_case=True)


def _q_embeddings_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): IVF-cell clustering bounds the
    quadratic, exact within-cell cosine >= 0.4 pairs close over CC into
    min-id canonicals. The DuckDB twin recomputes centroids, cell
    assignment, pair cut, and closure independently — the hash match
    proves cluster assignment AND duplicate grouping."""
    from graphiti_spark.operators.dedup_docs import semantic_dedup

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(embs, n_cells=16, threshold=0.4)


def _q_span_state_stream(spark, sf_dir):
    """Streaming span dedup ≡ one-shot rebuild, proven in the driver
    gate: the documents table split into two feed commits, each drained
    as a micro-batch (foreachBatch → incremental spans vs the standing
    gram index → versioned delta commit); the final state's spans table
    equals ``dup_spans`` over the whole corpus, so the oracle IS the
    full-rebuild SQL (same DuckDB closure as docs_dup_spans)."""
    import os
    import shutil
    import tempfile

    from graphiti_spark.operators.span_state import (
        load_span_state,
        run_streaming_spans,
    )

    tmp = tempfile.mkdtemp(prefix="q_span_state_")
    try:
        feed = os.path.join(tmp, "feed")
        state = os.path.join(tmp, "state")
        ckpt = os.path.join(tmp, "ckpt")
        docs = _docs(spark, sf_dir)
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
            os.path.join(feed, "part=a")
        )
        run_streaming_spans(spark, feed + "/part=a", state, ckpt + "1")
        docs.filter(F.col("doc_id") % 2 == 1).write.parquet(
            os.path.join(feed, "part=b")
        )
        run_streaming_spans(spark, feed + "/part=b", state, ckpt + "2")

        got = load_span_state(spark, state)
        out = got["spans"].select(
            "id", "span_start", "span_end", "span_len"
        )
        # detach from the state parquet before the finally-rmtree
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_span_state_takedown(spark, sf_dir):
    """Takedown law, hash-proved in the driver gate: build the standing
    span state over the whole corpus, ``remove_doc_spans`` the
    ``doc_id % 10 == 7`` slice, return the repaired spans. The oracle is
    the docs_dup_spans closure over the REMAINING corpus, so a hash
    match proves remove ≡ rebuild — including span SHRINKS/erasures,
    which only the flip-down repair (remaining gram count == 1) can
    decide."""
    from graphiti_spark.operators.span_state import (
        init_span_state,
        remove_doc_spans,
    )

    docs = _docs(spark, sf_dir)
    state = init_span_state(docs)
    doomed = docs.filter(F.col("doc_id") % 10 == 7).select(
        F.col("doc_id").alias("id")
    )
    return remove_doc_spans(doomed, state)["spans"].select(
        "id", "span_start", "span_end", "span_len"
    )


def _q_embeddings_near_dup(spark, sf_dir):
    from graphiti_spark.operators.dedup_docs import embedding_near_dup

    return embedding_near_dup(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), threshold=0.45
    )


def _q_embeddings_kmeans(spark, sf_dir):
    """Deterministic k-means refinement of the IVF centroids (r4): two
    Lloyd rounds from the hash-picked seed, means accumulated in exact
    1e-9 integer units (order/partitioning-independent — the only
    order-sensitive step in Lloyd made replayable). DuckDB unrolls both
    rounds: identical assignment argmax, identical integer-unit sums."""
    from graphiti_spark.operators.kmeans import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_lloyd(emb, n_cells=8, n_iter=2).orderBy("cid")


def _q_embeddings_label_prototypes(spark, sf_dir):
    """Per-label prototype embeddings built through the MERGEABLE mean
    state (r4): two disjoint shards are sketched separately and folded
    — the mini-batch path a standing prototype table uses to absorb a
    new day's vectors. The oracle computes the one-pass per-label mean
    with the identical HUGEINT integer-unit arithmetic, so the hash
    proves fold == one pass."""
    from graphiti_spark.operators.kmeans import (
        mean_state,
        mean_state_finalize,
        mean_state_merge,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    halves = [emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")]
    state = mean_state_merge(
        [mean_state(h, ["label"], "embedding") for h in halves], ["label"]
    )
    return mean_state_finalize(state, ["label"]).orderBy("label")


def _q_embeddings_prototype_takedown(spark, sf_dir):
    """Prototype-state takedown (r4): removing the vec_id % 5 == 0
    slice is an EXACT integer subtraction on the standing state — no
    rebuild, no IEEE drift. The oracle computes the one-pass mean over
    the remaining vectors; the hash proves subtract == rebuild."""
    from graphiti_spark.operators.kmeans import (
        mean_state,
        mean_state_finalize,
        mean_state_subtract,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    state = mean_state(emb, ["label"], "embedding")
    gone = mean_state(
        emb.filter("vec_id % 5 = 0"), ["label"], "embedding"
    )
    return mean_state_finalize(
        mean_state_subtract(state, gone, ["label"]), ["label"]
    ).orderBy("label")


def _q_embeddings_semantic_decontam(spark, sf_dir):
    """Embedding-level benchmark decontamination (r4): label-0 vectors
    play the benchmark suite (bounded by the eval sets → broadcast);
    every other vector is flagged when its max cosine against any
    benchmark vector reaches 0.45 — the semantic complement of the
    exact 13-gram decontamination rule. DuckDB recomputes every cosine
    with the identical double arithmetic and 4 dp pre-compare round."""
    from graphiti_spark.operators.curation import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_decontaminate(
        emb.filter("label <> 0"), emb.filter("label = 0"), threshold=0.45
    ).orderBy("id")


def _q_docs_curation_funnel(spark, sf_dir):
    """The COMPOSED curation funnel (r4): exact dedup → near-dup
    canonicals → C4 line dedup → language/quality gates → deterministic
    sample, each stage consuming the previous stage's survivors — the
    oracle projection of curation.curate_docs, the composition
    jobs/curate_corpus.py runs with its optional stages. Every stage is
    hash-verified standalone elsewhere; this entry hash-proves the
    composition (survivor sets, rewritten text feeding the gates, the
    final content sha of what ships)."""
    from graphiti_spark.operators.curation import curation_funnel

    return curation_funnel(
        _docs(spark, sf_dir).select("doc_id", "text")
    ).orderBy("doc_id")


def _q_docs_zorder_keys(spark, sf_dir):
    """Z-order (Morton) layout keys (r4): interleave a content-hash
    bucket with the size dimension so files cluster on BOTH at once —
    the native form of Iceberg Z-ORDER BY (SURVEY S8). Spark spreads
    bits with the 5-step magic masks; DuckDB reconstructs the key
    bit-by-bit (a different formulation, so the hash checks the
    arithmetic, not a copy)."""
    from graphiti_spark.functions.zorder import zorder_key

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 1048576).cast("long").alias("x"),
        F.col("n_chars").cast("long").alias("y"),
    )
    return d.select(
        "id", "x", "y",
        zorder_key(F.col("x"), F.col("y")).alias("zkey"),
    ).orderBy("id")


def _q_docs_fold_homoglyphs(spark, sf_dir):
    """Homoglyph/confusable folding (r4): Cyrillic/Greek lookalikes,
    fullwidth forms, nbsp, and the zero-width family folded to ASCII in
    ONE translate pass — the spam-evasion repair exact dedup and
    blocklists need. The corpus is clean, so every 2nd doc gets the
    shared confusable sample (textnorm.HOMOGLYPH_SAMPLE — one literal
    both engines import); odd docs prove idempotence on clean text."""
    from graphiti_spark.textnorm import HOMOGLYPH_SAMPLE, fold_homoglyphs_col

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" " + HOMOGLYPH_SAMPLE)),
        )
        .otherwise(F.col("text"))
        .alias("aug"),
    )
    folded = fold_homoglyphs_col(F.col("aug"))
    return d.select(
        "id",
        F.sha2(folded.cast("binary"), 256).alias("folded_sha"),
        (F.length("aug") - F.length(folded)).cast("int").alias("n_deleted"),
        (folded != F.col("aug")).alias("changed"),
    ).orderBy("id")


def _q_docs_language_id(spark, sf_dir):
    from graphiti_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def _q_docs_token_stats(spark, sf_dir):
    from graphiti_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir))


def _q_docs_quality(spark, sf_dir):
    from graphiti_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def _q_docs_fingerprint(spark, sf_dir):
    from graphiti_spark.operators.textstats import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir))


def _pii_docs(spark, sf_dir):
    """The synthetic corpus contains no natural PII, so the PII queries
    run over a deterministically augmented text: selected docs get a
    synthesized email / IPv4 / phone derived from doc_id. The oracle
    builds the identical augmented column in SQL, so the hash compare
    exercises real matches, not an all-zero scan."""
    from pyspark.sql import functions as F

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-0199"),
            ),
        ).otherwise(F.lit("")),
    )
    return d.withColumn("text", aug)


def _q_docs_pii(spark, sf_dir):
    from graphiti_spark.operators.curation import pii_scan

    return pii_scan(_pii_docs(spark, sf_dir))


def _q_docs_pii_redacted(spark, sf_dir):
    from graphiti_spark.operators.curation import pii_redact

    return pii_redact(_pii_docs(spark, sf_dir))


def _q_docs_decontaminated(spark, sf_dir):
    """Benchmark suite = every 97th document. The corpus's near-dups
    share no verbatim 13-token runs, so to exercise real cross-doc
    matches (not just benchmark self-hits) every 41st doc gets doc 0's
    first 13 tokens appended — deterministic and reproduced verbatim by
    the DuckDB oracle, like the PII augmentation."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.curation import decontaminate

    d = _docs(spark, sf_dir)
    span = " ".join(
        d.filter(F.col("doc_id") == 0).head()["text"].lower().strip().split()[:13]
    )
    aug = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 41 == 0,
            F.concat(F.col("text"), F.lit(" " + span)),
        ).otherwise(F.col("text")),
    )
    return decontaminate(aug, aug.filter(F.col("doc_id") % 97 == 0))


def _q_docs_chunks(spark, sf_dir):
    from graphiti_spark.operators.curation import chunk_tokens

    return chunk_tokens(_docs(spark, sf_dir), size=64, overlap=16)


def _lang_docs(spark, sf_dir):
    """(id, pred_lang, n_ws_tokens) — language-ID stratum + token count
    per doc, the composition the sampling queries stratify over."""
    from graphiti_spark.operators.textstats import language_id, token_stats

    d = _docs(spark, sf_dir)
    lang = language_id(d).select("id", "pred_lang")
    tok = token_stats(d).select("id", "n_ws_tokens")
    return lang.join(tok, "id")


def _q_docs_sample_stratified(spark, sf_dir):
    from graphiti_spark.operators.sampling import sample_stratified

    base = _lang_docs(spark, sf_dir).select("id", "pred_lang")
    return sample_stratified(
        base,
        {"en": 0.3, "und": 0.8},
        stratum_col="pred_lang",
        id_col="id",
        seed="r3",
    )


def _q_docs_mixture_rates(spark, sf_dir):
    from graphiti_spark.operators.sampling import mixture_rates

    return mixture_rates(
        _lang_docs(spark, sf_dir),
        {"en": 0.5, "und": 0.5},
        budget_tokens=8000,
        stratum_col="pred_lang",
        token_count_col="n_ws_tokens",
    )


def _q_docs_mixture(spark, sf_dir):
    from graphiti_spark.operators.sampling import mix_corpus

    return mix_corpus(
        _lang_docs(spark, sf_dir),
        {"en": 0.5, "und": 0.5},
        budget_tokens=8000,
        stratum_col="pred_lang",
        token_count_col="n_ws_tokens",
        id_col="id",
        seed="mix",
    )


def _q_docs_quality_quantile(spark, sf_dir):
    """Keep docs at/above their language stratum's median repetition
    guard (distinct_ratio — the continuous quality feature; the 4-gate
    composite is constant per stratum on this corpus, which would make
    the quantile vacuous)."""
    from graphiti_spark.operators.sampling import filter_by_quantile
    from graphiti_spark.operators.textstats import quality_score

    scored = (
        quality_score(_docs(spark, sf_dir))
        .select("id", "distinct_ratio")
        .join(_lang_docs(spark, sf_dir).select("id", "pred_lang"), "id")
        .select("id", "pred_lang", "distinct_ratio")
    )
    return filter_by_quantile(
        scored, q=0.5, score_col="distinct_ratio", stratum_col="pred_lang"
    )


def _q_docs_dedup_lines(spark, sf_dir):
    """The corpus is single-line with no cross-doc duplicate sentences,
    so line dedup runs over deterministically augmented text: every doc
    gains a shared boilerplate line and every 3rd doc a second one —
    the DuckDB oracle builds the identical column (PII-augmentation
    precedent), so the hash compare exercises real cross-doc drops."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.curation import dedup_lines

    d = _docs(spark, sf_dir)
    aug = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit("\nsubscribe to our newsletter today"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\ncopyright example corp all rights reserved"),
            ).otherwise(F.lit("")),
        ),
    )
    return dedup_lines(aug)


def _q_docs_kmv_jaccard(spark, sf_dir):
    """Cross-corpus overlap from sketches alone (r4): the even-doc and
    odd-doc halves of the corpus are sketched independently (k=64 KMV
    over bigram hashes) and their Jaccard/intersection is estimated
    from the two 64-entry sketches — no join over either corpus. The
    DuckDB twin recomputes both exact k-minima lists and the identical
    Beyer-et-al estimator."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.sketch import kmv_jaccard, kmv_sketch

    t = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda x: x != ""
    )
    n = F.size(t)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array())
    d = (
        _docs(spark, sf_dir)
        .select((F.col("doc_id") % 2).alias("side"), bigrams.alias("bgs"))
        .select("side", F.explode("bgs").alias("bg"))
    )
    a = kmv_sketch(d.filter(F.col("side") == 0), [], "bg", k=64)
    b = kmv_sketch(d.filter(F.col("side") == 1), [], "bg", k=64)
    return kmv_jaccard(a, b, [], 64)


def _q_docs_fix_mojibake(spark, sf_dir):
    """Mojibake repair (r4): UTF-8-read-as-cp1252 damage reversed by a
    closed ordered literal-replace table (longest sequences first —
    the lead byte of the punctuation trigraphs is itself a mojibake
    key). Every 3rd doc is augmented with a damaged phrase; the DuckDB
    twin applies the identical chain in the identical order."""
    from pyspark.sql import functions as F

    from graphiti_spark.textnorm import MOJIBAKE_SAMPLE as moj
    from graphiti_spark.textnorm import fix_mojibake_col
    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + moj)),
        ).otherwise(F.col("text")),
    )
    fixed = fix_mojibake_col(F.col("text"))
    return d.select(
        F.col("doc_id").alias("id"),
        fixed.alias("text_fixed"),
        (fixed != F.col("text")).alias("changed"),
    ).orderBy("id")


def _q_docs_domain_cap(spark, sf_dir):
    """Hard per-domain quota (r4): at most 40 docs per host survive —
    the n smallest deterministic uniforms (ties by id), so a link-farm
    host cannot dominate the corpus no matter its size. The DuckDB twin
    recomputes the identical draws and QUALIFYs the identical window."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.sampling import cap_per_group
    from graphiti_spark.operators.weblinks import canonicalize_url, host_of
    from graphiti_spark.sources.links import load_links

    docs = _docs(spark, sf_dir).select("doc_id")
    links = load_links(spark, sf_dir).select("doc_id", "url")
    d = docs.join(links, "doc_id").select(
        F.col("doc_id").alias("id"),
        host_of(canonicalize_url(F.col("url"))).alias("host"),
    )
    return cap_per_group(d, "host", 40).orderBy("id")


def _q_docs_epoch_order(spark, sf_dir):
    """Deterministic training order (r4): content-hash shard (of 8) +
    within-shard position from an independent uniform — epoch-wise
    reshuffle with zero RNG state; shard×8 is a power-of-two scale of
    the exact 52-bit uniform, so floor() is bit-identical both engines."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.sampling import epoch_order

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    return epoch_order(docs, n_shards=8).orderBy("id")


def _q_docs_host_boilerplate(spark, sf_dir):
    """Host-scoped boilerplate removal (r4): lines on ≥50 % of a host's
    pages are cut from EVERY page of that host (nav bars / cookie
    banners — corpus-global line dedup keeps the first copy; here none
    survive). The corpus is single-line, so each doc is augmented with
    a per-host nav line (100 % of the host → always cut) and, on even
    doc_ids, a cookie line (~50 % — exercises the exact threshold
    boundary); the DuckDB twin builds the identical augmented column
    and applies the identical rule."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.curation import strip_host_boilerplate
    from graphiti_spark.operators.weblinks import canonicalize_url, host_of
    from graphiti_spark.sources.links import load_links

    docs = _docs(spark, sf_dir)
    links = load_links(spark, sf_dir).select("doc_id", "url")
    d = docs.join(links, "doc_id").withColumn(
        "host", host_of(canonicalize_url(F.col("url")))
    )
    aug = d.withColumn(
        "text",
        F.concat(
            F.lit("nav: "),
            F.col("host"),
            F.lit(" home about\n"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("cookie notice accept\n")
            ).otherwise(F.lit("")),
            F.col("text"),
        ),
    )
    return strip_host_boilerplate(aug).orderBy("id")


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _q_events_asof_clicks(spark, sf_dir):
    """For each error event, the latest click by the same user at or
    before the error (keyed backward as-of join)."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.events import asof_join

    ev = _events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        "value",
    )
    # asof_join requires right rows unique per (on, ts); two clicks at
    # the same instant would otherwise make the winner run-order
    # dependent. Deterministic tiebreak: keep the min event_id's row.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "ts").orderBy("click_event_id")
    clicks = (
        clicks.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    j = asof_join(
        errors, clicks, on="user_id", value_cols=["click_event_id", "value"]
    )
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("ts_matched", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "click_event_id",
        F.col("value").alias("click_value"),
    )


def _q_events_asof_next_error(spark, sf_dir):
    """For each click, the NEXT error by the same user within 24 h
    (forward as-of with tolerance — the other direction of the keyed
    as-of operator, hash-verified against DuckDB's native ASOF)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graphiti_spark.operators.events import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_event_id")
    )
    # deterministic (on, ts) uniqueness: min event_id wins
    w = Window.partitionBy("user_id", "ts").orderBy("error_event_id")
    errors = (
        errors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    j = asof_join(
        clicks,
        errors,
        on="user_id",
        value_cols=["error_event_id"],
        direction="forward",
        tolerance_s=86400.0,
    )
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("ts_matched", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
        "error_event_id",
    )


def _q_events_sessions(spark, sf_dir):
    """Per-user gap-based sessions (8 h gap — the corpus's median
    per-user inter-event gap is ~7.3 h, so the split is non-trivial)
    with exact decimal value totals."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.events import session_stats

    s = session_stats(_events(spark, sf_dir), gap_s=28800)
    return s.select(
        "user_id",
        "session_idx",
        "n_events",
        F.date_format("t_start", "yyyy-MM-dd HH:mm:ss").alias("t_start"),
        F.date_format("t_end", "yyyy-MM-dd HH:mm:ss").alias("t_end"),
        "total_value",
    )


def _q_parts_pagerank(spark, sf_dir):
    """Fixed-point PageRank over the supplier→part supply multigraph
    (lineitem; part ids offset by 1e6 into a disjoint node space).
    Integer arithmetic end-to-end, so the DuckDB oracle reproduces the
    fixpoint bit-identically."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.centrality import pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    return pagerank(li, iters=5)


def _q_parts_hits(spark, sf_dir):
    """HITS hubs & authorities over the directed supplier→part graph
    (3 exact-integer L1-normalized iterations; decimal(38,0) sums so
    DuckDB's HUGEINT arithmetic reproduces the fixpoint bit-identically)."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.centrality import hits

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    return hits(li, iters=3)


def _q_parts_ppr(spark, sf_dir):
    """Personalized PageRank restarted on suppliers divisible by 7 —
    proximity-weighted reachability from the restart set, exact
    integer fixpoint (DuckDB reproduces it bit-identically)."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.centrality import personalized_pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    sources = li.select(F.col("src").alias("id")).filter(
        F.col("id") % 7 == 0
    )
    return personalized_pagerank(li, sources, iters=5)


def _q_parts_degree(spark, sf_dir):
    """Out/in degree stats over the same supplier→part supply
    multigraph as parts_pagerank (disjoint node spaces via the 1e6
    part-id offset)."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.centrality import degree_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    return degree_stats(li)


def _q_docs_sample_fraction(spark, sf_dir):
    """Deterministic corpus-wide Bernoulli sample at rate 0.4 (52-bit
    sha-uniform draw — the same construction the stratified sampler
    uses, verified standalone here)."""
    from graphiti_spark.operators.sampling import sample_fraction

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return sample_fraction(d, 0.4, id_col="doc_id", seed="frac")


def _li_gi(spark, sf_dir):
    """Distinct (order, part) incidence — the grouped-item input for
    the co-occurrence family."""
    from pyspark.sql import functions as F

    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("i")
    )


def _q_parts_cooccur_lift(spark, sf_dir):
    """Market-basket association over orders: parts co-purchased in
    >= 2 orders with exact lift = c_ab*N/(c_a*c_b)."""
    from graphiti_spark.operators.cooccur import lift_scores

    return lift_scores(_li_gi(spark, sf_dir), "g", "i", min_count=2)


def _q_parts_triangles(spark, sf_dir):
    """Per-node triangle counts over the co-purchase graph (pairs
    co-occurring >= 2 times), via degree-ordered orientation."""
    from graphiti_spark.operators.cooccur import (
        cooccurrence_pairs,
        triangle_count,
    )

    e = cooccurrence_pairs(_li_gi(spark, sf_dir), "g", "i", min_count=2)
    return triangle_count(e, "a", "b")


def _q_parts_clustering(spark, sf_dir):
    """Local clustering coefficient per node (r4): the fraction of each
    node's neighbor pairs that are themselves connected — link-farm /
    spam-neighborhood feature. Same degree-ordered-orientation triangle
    core as parts_triangles; the DuckDB twin is BUILT from the
    triangles oracle text plus the identical lcc arithmetic."""
    from graphiti_spark.operators.cooccur import (
        cooccurrence_pairs,
        local_clustering,
    )

    e = cooccurrence_pairs(_li_gi(spark, sf_dir), "g", "i", min_count=2)
    return local_clustering(e, "a", "b").orderBy("id")


def _q_embeddings_quantized(spark, sf_dir):
    """Per-vector affine int8 quantization of the embedding table:
    codes + reconstruction scalars + exact RMSE (the storage lever for
    ANN at corpus scale)."""
    from pyspark.sql import functions as F

    from graphiti_spark.functions.quantize import quantize_embeddings

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return quantize_embeddings(e).select(
        F.col("id").alias("vec_id"), "q", "vmin", "scale", "rmse"
    )


def _q_parts_kcore(spark, sf_dir):
    """2-core of the co-purchase graph (iterative peeling, 8-round
    cap; the fixture converges in 4 — the no-op tail keeps the DuckDB
    unrolled twin bit-identical)."""
    from graphiti_spark.operators.centrality import k_core
    from graphiti_spark.operators.cooccur import cooccurrence_pairs

    e = cooccurrence_pairs(_li_gi(spark, sf_dir), "g", "i", min_count=2)
    return k_core(e, 2, "a", "b", max_rounds=8)


def _q_docs_repetition(spark, sf_dir):
    """Gopher repetition gates. The corpus is single-line with few
    natural repeats, so every 3rd doc is deterministically augmented
    with a full duplicate line (text + newline + text) to exercise the
    duplicate-line family; top-gram counts come from the natural
    text."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.textstats import repetition_stats

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    aug = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\n"), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return repetition_stats(aug)


def _q_media_metadata(spark, sf_dir):
    from graphiti_spark.operators.multimodal import media_metadata

    return media_metadata(_pipe(spark, sf_dir)["pages"], "url", "html")


def _q_frame_offsets(spark, sf_dir):
    from graphiti_spark.operators.multimodal import frame_sample_offsets

    return frame_sample_offsets(_pipe(spark, sf_dir)["pages"], "url", "html")


def _q_edge_dup_pairs(spark, sf_dir):
    from graphiti_spark.operators.edge_dedup import edge_duplicate_pairs

    edges = _pipe(spark, sf_dir)["edges_merged"].filter(F.col("group_id") == "src1")
    return edge_duplicate_pairs(edges, min_score=0.6)


def _q_invalidation_candidates(spark, sf_dir):
    """T4 candidate generation, fully oracled (was rows-only): edges
    carry embeddings mapped from the parquet table by a hex-prefix of
    their uuid (same device as hybrid_search_edges), so the per-endpoint
    cap, the cosine gate AND the per-new-edge top-k (which binds at
    min_score=0.1 on this corpus) are all reproducible in DuckDB."""
    from graphiti_spark.operators.edge_dedup import invalidation_candidates

    edges = _pipe(spark, sf_dir)["edges_merged"].filter(F.col("group_id") == "src1")
    mapped = _map_edge_embeddings(spark, sf_dir, edges)
    new = mapped.orderBy("uuid").limit(5)
    return invalidation_candidates(new, mapped, min_score=0.1)


def _q_episodes_typed_mentions(spark, sf_dir):
    """EpisodeType variants end-to-end: docs become message (speaker
    prefix), json (real JSON object the flattener traverses) or text
    episodes by doc_id; mentions = frozen grammar over the per-type
    token stream + the speaker-first rule for messages."""
    from graphiti_spark.sources.episode_types import extract_typed
    from graphiti_spark.sources.pages import CRAWL_EPOCH, URL_PREFIX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    content = (
        F.when(d % 3 == 0, F.concat(F.lit("user"), (d % 5).cast("string"),
                                    F.lit(": "), F.col("text")))
        .when(d % 3 == 1, F.concat(F.lit('{"body": "'), F.col("text"),
                                   F.lit('", "channel": "ch'),
                                   (d % 7).cast("string"), F.lit('"}')))
        .otherwise(F.col("text"))
    )
    src = (
        F.when(d % 3 == 0, F.lit("message"))
        .when(d % 3 == 1, F.lit("json"))
        .otherwise(F.lit("text"))
    )
    episodes = docs.select(
        F.sha2(F.concat(F.lit(URL_PREFIX), d.cast("string")), 256).alias("uuid"),
        F.col("source").alias("group_id"),
        src.alias("source"),
        content.alias("content"),
        (
            F.to_timestamp(F.lit(CRAWL_EPOCH))
            + F.make_interval(mins=d.cast("int"))
        ).alias("valid_at"),
    )
    mentions, _ = extract_typed(episodes)
    return mentions.select("episode_uuid", "group_id", "name")


def _q_edges_temporal_t4(spark, sf_dir):
    """T4→T1: either-endpoint contradiction closing across predicates
    (reference truth table) via the O(|edges|) endpoint skyline — the
    r3 default `edges` semantics, run standalone on edges_merged. The
    pair-join form it replaces is pinned ≡ in tests/test_temporal_t4.py."""
    from graphiti_spark.config import DEFAULT_RUN_TS
    from graphiti_spark.operators.temporal import invalidate_cross_predicate

    edges = _pipe(spark, sf_dir)["edges_merged"]
    out = invalidate_cross_predicate(edges, DEFAULT_RUN_TS)
    df = out.select(
        "uuid", "group_id", "source_node_uuid", "target_node_uuid", "name",
        "fact", "valid_at", "invalid_at", "expired_at",
    )
    return _fmt_ts(df, "valid_at", "invalid_at", "expired_at")


def _q_edges_dated(spark, sf_dir):
    """E6 with real work to do: the corpus text is deterministically
    augmented with date phrases (doc_id-derived, mirrored in the oracle
    SQL), so extracted facts carry IN-TEXT dates ≠ warc_ts resolved by
    the reference's DATETIME RULES (year → Jan 1; ISO date → midnight;
    none → reference time)."""
    from graphiti_spark.operators.extract import extract_mentions_and_triples
    from graphiti_spark.sources.pages import CRAWL_EPOCH, URL_PREFIX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    iso = F.concat(
        F.lit("2020-"),
        F.lpad(((d % 12) + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(((d % 28) + 1).cast("string"), 2, "0"),
    )
    text2 = (
        F.when(d % 3 == 0, F.concat(F.col("text"), F.lit(" since "),
                                    (F.lit(2015) + d % 8).cast("string")))
        .when(d % 3 == 1, F.concat(F.col("text"), F.lit(" on "), iso))
        .otherwise(F.col("text"))
    )
    episodes = docs.select(
        F.sha2(F.concat(F.lit(URL_PREFIX), d.cast("string")), 256).alias("uuid"),
        F.col("source").alias("group_id"),
        text2.alias("content"),
        (
            F.to_timestamp(F.lit(CRAWL_EPOCH))
            + F.make_interval(mins=d.cast("int"))
        ).alias("valid_at"),
    )
    _, triples = extract_mentions_and_triples(episodes)
    df = triples.select(
        "episode_uuid", "group_id", "subj_name", "pred", "obj_name", "fact",
        "valid_at",
    )
    return _fmt_ts(df, "valid_at")


def _q_incremental_merge(spark, sf_dir):
    """D9/Q7/Q8 end-to-end: ingest the even-doc_id half as batch A, then
    ingest the odd half INCREMENTALLY against A's persisted-state tables.
    The oracle is the full-batch pipeline over the whole corpus — a hash
    match proves the associativity contract (incremental ≡ one batch)."""
    from graphiti_spark.operators.incremental import ingest_incremental
    from graphiti_spark.pipeline import flagship_select, run_pipeline_from_pages
    from graphiti_spark.sources.pages import load_pages

    pages = load_pages(spark, sf_dir).persist()
    pages_a = pages.filter(F.col("doc_id") % 2 == 0)
    pages_b = pages.filter(F.col("doc_id") % 2 == 1)
    out_a = run_pipeline_from_pages(spark, pages_a, RunConfig())
    merged = ingest_incremental(spark, pages_b, out_a)
    df = flagship_select(merged["edges"])
    return _fmt_ts(df, "valid_at", "invalid_at", "expired_at")


def _q_node_attributes(spark, sf_dir):
    from graphiti_spark.operators.attributes import extract_attributes

    out = _pipe(spark, sf_dir)
    spec = {"after_fast": r"fast (\w+)", "after_merge": r"merge (\w+)"}
    attrs = extract_attributes(out["mention_edges"], out["episodes"], spec)
    return attrs.select(
        "entity_uuid", F.explode("attributes").alias("attr", "value")
    )


def _q_episode_subgraph(spark, sf_dir):
    """Episode→subgraph fetch (reference graphiti.py:1155-1167): the
    canonical nodes mentioned by the 5 lexicographically-first episodes
    plus the edges carrying those episodes in their provenance array."""
    from graphiti_spark.operators.maintenance import (
        get_nodes_and_edges_by_episode,
    )

    out = _pipe(spark, sf_dir)
    eps = [
        r.uuid
        for r in out["episodes"].select("uuid").orderBy("uuid").limit(5).collect()
    ]
    sub = get_nodes_and_edges_by_episode(
        eps, out["mention_edges"], out["nodes"], out["edges"]
    )
    n = sub["nodes"].select(
        F.lit("node").alias("kind"), "uuid", "name", "group_id"
    )
    e = sub["edges"].select(
        F.lit("edge").alias("kind"), "uuid", "name", "group_id"
    )
    return n.unionByName(e)


def _q_delta_commit_merge(spark, sf_dir):
    """The MERGE-commit path hash-proven end-to-end (VERDICT r02 #1
    'done' criterion, jobs/ingest_delta.py shape): batch A saved as a
    full snapshot, batch B ingested incrementally and committed as a
    per-table upsert/delete DELTA dir only, state reconstructed
    merge-on-read (snapshot + delta) — the flagship edges must equal the
    one-batch pipeline, so the oracle IS the full-batch SQL. Proves the
    diffed upsert set (unchanged closings excluded) is still complete."""
    import os
    import shutil
    import tempfile

    from graphiti_spark.materialize import (
        load_graph,
        load_graph_versions,
        save_graph,
        save_graph_delta,
    )
    from graphiti_spark.operators.incremental import ingest_incremental
    from graphiti_spark.pipeline import flagship_select, run_pipeline_from_pages
    from graphiti_spark.sources.pages import load_pages

    tmp = tempfile.mkdtemp(prefix="q_delta_commit_")
    try:
        pages = load_pages(spark, sf_dir)
        out_a = run_pipeline_from_pages(
            spark, pages.filter(F.col("doc_id") % 2 == 0), RunConfig()
        )
        save_graph(out_a, os.path.join(tmp, "snap"))
        prior = load_graph(spark, os.path.join(tmp, "snap"))
        merged = ingest_incremental(
            spark, pages.filter(F.col("doc_id") % 2 == 1), prior
        )
        save_graph_delta(merged["delta"], os.path.join(tmp, "d0"))
        state = load_graph_versions(
            spark, [os.path.join(tmp, "snap"), os.path.join(tmp, "d0")]
        )
        out = _fmt_ts(
            flagship_select(state["edges"]),
            "valid_at", "invalid_at", "expired_at",
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_streaming_merge(spark, sf_dir):
    """Structured Streaming ingest ≡ one batch, proven in the driver gate
    (was pytest-only): the corpus split into two feed commits, each
    drained as a micro-batch (foreachBatch → incremental delta merge →
    versioned state commit); the final state's flagship edges equal the
    one-batch pipeline, so the oracle IS the full-batch SQL. The result
    is collected into an in-memory frame before the temp feed/state/
    checkpoint dirs are removed."""
    import os
    import shutil
    import tempfile

    from graphiti_spark.pipeline import flagship_select
    from graphiti_spark.sources.pages import load_pages
    from graphiti_spark.streaming.ingest import (
        load_graph_state,
        run_streaming_ingest,
    )

    tmp = tempfile.mkdtemp(prefix="q_streaming_merge_")
    try:
        feed = os.path.join(tmp, "feed")
        state = os.path.join(tmp, "state")
        ckpt = os.path.join(tmp, "ckpt")
        pages = load_pages(spark, sf_dir)
        pages.filter(F.col("doc_id") % 2 == 0).write.parquet(
            os.path.join(feed, "part=a")
        )
        run_streaming_ingest(spark, feed + "/part=a", state, ckpt + "1")
        pages.filter(F.col("doc_id") % 2 == 1).write.parquet(
            os.path.join(feed, "part=b")
        )
        run_streaming_ingest(spark, feed + "/part=b", state, ckpt + "2")

        got = load_graph_state(spark, state)
        out = _fmt_ts(
            flagship_select(got["edges"]),
            "valid_at", "invalid_at", "expired_at",
        )
        # detach from the state parquet before the finally-rmtree (all
        # string/long columns after _fmt_ts; a few thousand rows)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_docs_name_kernels(spark, sf_dir):
    """D2/D3/D4 kernels hash-verified end-to-end (were pytest-only):
    fuzzy normalization, the Shannon-entropy gate and the 3-gram shingle
    cardinality over each document's first 80 chars — the exact kernels
    the dedup blocking path applies to entity names (reference
    dedup_helpers.py:45-94), re-derived independently in DuckDB
    (list-comprehension entropy)."""
    from graphiti_spark.functions.dedup_text import (
        entropy_gate_col,
        normalize_name_for_fuzzy_col,
        shingles_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fuzzy = normalize_name_for_fuzzy_col(F.substring(F.col("text"), 1, 80))
    return docs.select(
        "doc_id",
        fuzzy.alias("fuzzy_name"),
        entropy_gate_col(fuzzy).alias("entropy_ok"),
        F.size(shingles_col(fuzzy)).cast("long").alias("n_shingles"),
    )


def _q_mentioned_nodes(spark, sf_dir):
    """G8 mentioned-nodes lookup (was pytest-only): the canonical nodes
    mentioned by the 5 lexicographically-first episodes — a probe set
    both sides recompute deterministically (reference
    search_utils.py:128-146)."""
    from graphiti_spark.search.graph import get_mentioned_nodes

    out = _pipe(spark, sf_dir)
    eps = [
        r.uuid
        for r in out["episodes"].select("uuid").orderBy("uuid").limit(5).collect()
    ]
    return get_mentioned_nodes(out["mention_edges"], out["nodes"], eps).select(
        "uuid", "name", "group_id", "mention_count", "summary",
        F.element_at("labels", -1).alias("label"),
    )


def _q_cross_encoder_docs(spark, sf_dir):
    """Q6 deterministic cross-encoder stand-in (was pytest-only):
    normalized token overlap |q∩d|/|q| over documents, top-10 with the
    (score desc, id asc) tie rank (reference cross_encoder client is an
    external model — SURVEY scopes the deterministic rerank contract)."""
    from graphiti_spark.search.fuse import token_overlap_rerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    return token_overlap_rerank(
        docs, "fast merge table window", id_col="id", text_col="text", limit=10
    )


# Registered-domain blocklist used by the urls_domain_filter entry (the
# oracle SQL hardcodes the same two literals).
_BLOCKED_DOMAINS = ["site4.net", "site5.ac.uk"]


def _q_urls_canonical(spark, sf_dir):
    """URL canonicalization over the messy links table. The DuckDB twin
    asserts the CLOSED-FORM expected canonical (sources/links
    SQL_CANON_CTE), so the hash proves canonicalize_url collapses every
    surface variant (case, www., default ports, tracking params, param
    order, fragments) to the intended URL — stronger than re-running
    the same regex chain on both sides."""
    from graphiti_spark.operators.weblinks import canonicalize_url
    from graphiti_spark.sources.links import load_links

    links = load_links(spark, sf_dir)
    return links.select(
        "doc_id", "url", canonicalize_url(F.col("url")).alias("url_canon")
    )


def _q_urls_dedup(spark, sf_dir):
    """URL-level dedup: one row per canonical URL, first fetch wins
    (min struct(ts, id) — map-side combinable)."""
    from graphiti_spark.operators.weblinks import url_dedup
    from graphiti_spark.sources.links import load_links

    dd = url_dedup(load_links(spark, sf_dir))
    return _fmt_ts(dd, "first_ts")


def _q_domains_stats(spark, sf_dir):
    """Per-registered-domain crawl stats (fetches, distinct canonical
    URLs, mean doc length). The DuckDB twin recomputes the public-
    suffix rule independently from the label lists."""
    from graphiti_spark.operators.weblinks import domain_stats
    from graphiti_spark.sources.links import load_links

    return domain_stats(load_links(spark, sf_dir), chars_col="n_chars")


def _q_urls_domain_filter(spark, sf_dir):
    """Registered-domain blocklist filter (broadcast anti-join bounded
    by the curated list)."""
    from graphiti_spark.operators.weblinks import domain_filter
    from graphiti_spark.sources.links import load_links

    kept = domain_filter(load_links(spark, sf_dir), _BLOCKED_DOMAINS)
    return kept.select("doc_id", "domain", "url_canon")


def _q_docs_perplexity(spark, sf_dir):
    """CCNet-style bigram-LM perplexity: model trained on the lang='en'
    slice (the 'clean reference corpus' role Wikipedia plays in CCNet),
    every doc scored under it. DuckDB rebuilds the smoothed model and
    re-scores from scratch."""
    from graphiti_spark.operators.lm import perplexity, train_bigram_lm

    docs = _docs(spark, sf_dir)
    model = train_bigram_lm(docs.filter(F.col("lang") == "en"))
    return perplexity(docs, model)


def _q_docs_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights of every raw doc toward the lang='en'
    target distribution (hashed unigram+bigram buckets, sha256-derived
    so DuckDB recomputes them bit-identically)."""
    from graphiti_spark.operators.lm import dsir_weights

    docs = _docs(spark, sf_dir)
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"))


def _q_parts_walks(spark, sf_dir):
    """DeepWalk-style truncated random walks over the bidirected
    supplier↔part supply graph: 2 walks × 3 steps per node, neighbor
    choice = floor(u52 · deg) over dst-ranked distinct adjacency — a
    pure function of (graph, seed), so DuckDB re-derives every step of
    every walk (full-corpus hash, not a sample)."""
    from graphiti_spark.operators.walks import random_walks

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    edges = li.unionByName(
        li.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = random_walks(edges, walk_len=3, walks_per_node=2, seed="walk")
    return w.select(
        "start",
        "widx",
        F.concat_ws(
            "-", F.transform("path", lambda x: x.cast("string"))
        ).alias("path_str"),
    )


def _q_parts_skipgrams(spark, sf_dir):
    """Skip-gram (center, context) pairs (window 2) from the walk
    corpus — the training-sequence export DeepWalk feeds to word2vec.
    Shuffle-free slice extraction on the Spark side; DuckDB re-derives
    the walks and applies the same slice algebra."""
    from graphiti_spark.operators.walks import random_walks, skipgram_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    edges = li.unionByName(
        li.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = random_walks(edges, walk_len=3, walks_per_node=2, seed="walk")
    return skipgram_pairs(w, window=2)


def _q_parts_salted_topk(spark, sf_dir):
    """Hub-safe per-group top-k (r4): top-3 lineitems per supplier by
    (quantity desc, partkey, orderkey) through the salted TWO-PHASE
    window. The DuckDB twin runs the PLAIN unsalted window — a
    different formulation, so the hash proves salting never changes
    the answer (the pipeline's skew rule as a first-class operator)."""
    from graphiti_spark.operators.topk import salted_topk

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_partkey").alias("partkey"),
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_quantity").cast("double").alias("quantity"),
    )
    return salted_topk(
        li,
        ["suppkey"],
        [
            F.col("quantity").desc(),
            F.col("partkey").asc(),
            F.col("orderkey").asc(),
        ],
        k=3,
        n_salt=8,
    ).orderBy("suppkey", "rank")


def _q_parts_walk_corpus(spark, sf_dir):
    """The COMPOSED walk-corpus export (r4): walks → skip-gram pairs →
    per-pair ORDERED negative arrays, exactly the
    jobs/export_walk_corpus.py composition including the duplicate-pair
    rule (a window containing the same context twice draws on the
    DISTINCT key and joins back, so every pair row keeps its own k
    negatives). The oracle re-derives the walks, the pair slices, and
    every draw, then folds negatives into the same ordered lists."""
    from graphiti_spark.operators.walks import (
        negative_samples,
        node_frequencies,
        random_walks,
        skipgram_pairs,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    edges = li.unionByName(
        li.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    walks = random_walks(
        edges, walk_len=3, walks_per_node=2, seed="walk"
    ).localCheckpoint(eager=True)
    pairs = skipgram_pairs(walks, window=2).localCheckpoint(eager=True)
    keys = ["start", "widx", "pos", "center", "context"]
    drawn = negative_samples(
        pairs.distinct(), node_frequencies(pairs), k=2
    )
    negs = drawn.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("neg_idx", "negative"))),
            lambda s: s["negative"],
        ).alias("negatives")
    )
    return pairs.join(negs, keys).orderBy(*keys)


def _q_parts_skipgram_negatives(spark, sf_dir):
    """k=2 deterministic negative samples per skip-gram pair from the
    unigram noise distribution (exact integer inverse-CDF; Spark uses
    the bucketed equi-join form, DuckDB the direct interval join — two
    formulations, same draws)."""
    from graphiti_spark.operators.walks import (
        negative_samples,
        node_frequencies,
        random_walks,
        skipgram_pairs,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    edges = li.unionByName(
        li.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pairs = skipgram_pairs(
        random_walks(edges, walk_len=3, walks_per_node=2, seed="walk"),
        window=2,
    )
    return negative_samples(pairs, node_frequencies(pairs), k=2)


def _q_parts_biased_walks(spark, sf_dir):
    """node2vec second-order biased walks (p=0.5, q=2 as integer
    weights ret/near/far = 4/2/1): every neighbor of cur is scored
    against prev and picked by exact weighted inverse-CDF — DuckDB
    re-derives every candidate weight and cumsum of all walks."""
    from graphiti_spark.operators.walks import biased_walks

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    edges = li.unionByName(
        li.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = biased_walks(
        edges, walk_len=3, walks_per_node=2, ret_w=4, near_w=2, far_w=1,
        seed="n2v",
    )
    return w.select(
        "start",
        "widx",
        F.concat_ws(
            "-", F.transform("path", lambda x: x.cast("string"))
        ).alias("path_str"),
    )


def _q_docs_tfidf_keywords(spark, sf_dir):
    """Top-5 TF-IDF keywords per document (tf · ln(N/df), ties broken
    (score desc, term asc) after 4 dp rounding on both engines)."""
    from graphiti_spark.operators.textstats import tfidf_keywords

    return tfidf_keywords(_docs(spark, sf_dir), k=5)


def _doc_ws_tokens(spark, sf_dir):
    """(lang, tok) whitespace-token stream over documents — shared input
    for the sketch entries."""
    from pyspark.sql import functions as F

    return _docs(spark, sf_dir).select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower("text")), r"\s+"), lambda x: x != ""
            )
        ).alias("tok"),
    )


def _q_docs_distinct_kmv(spark, sf_dir):
    """Per-language distinct-bigram estimate via a k=64 KMV sketch
    (k-minimum-values over 52-bit sha hashes — the mergeable
    distinct-count sketch; the DuckDB twin recomputes the exact k
    smallest distinct hashes and the (k-1)/u_(k) estimator)."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.sketch import kmv_distinct

    t = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda x: x != ""
    )
    n = F.size(t)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    bg = _docs(spark, sf_dir).select(
        "lang", F.explode(bigrams).alias("bg")
    )
    return kmv_distinct(bg, ["lang"], "bg", k=64).orderBy("lang")


def _q_docs_token_quantile_sketch(spark, sf_dir):
    """Per-language token-count quantiles from a k=64 bottom-k sample
    sketch (the mergeable no-global-sort quantile estimator: the k
    smallest sha52 draws per group are a uniform sample; the estimate
    is the sample's order statistic). The DuckDB twin recomputes the
    exact bottom-k sample and the identical rank arithmetic."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.sketch import bottomk_quantiles

    t = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda x: x != ""
    )
    d = _docs(spark, sf_dir).select(
        "lang", "doc_id", F.size(t).alias("n_tok")
    )
    return bottomk_quantiles(
        d, ["lang"], "doc_id", "n_tok", [0.25, 0.5, 0.9], k=64
    ).orderBy("lang", "q")


def _q_docs_heavy_hitters(spark, sf_dir):
    """Exact corpus heavy hitters (token share >= 1%) through the
    Misra-Gries candidate pass + exact recount — the final answer is
    partitioning-independent, so DuckDB verifies it with the plain
    exact threshold query."""
    from graphiti_spark.operators.sketch import heavy_hitters

    toks = _doc_ws_tokens(spark, sf_dir).select("tok")
    return heavy_hitters(toks, "tok", share_num=1, share_den=100)


def _page_link_edges(spark, sf_dir):
    from graphiti_spark.operators.weblinks import extract_links
    from graphiti_spark.sources.links import load_page_anchors

    return extract_links(load_page_anchors(spark, sf_dir))


def _q_page_links(spark, sf_dir):
    """Out-link edges extracted from page html: href regex + relative-
    URL resolution (absolute / protocol-relative / root-relative;
    mailto:/fragment/single-quoted dropped) + canonicalization. The
    DuckDB twin asserts the CLOSED-FORM expected canonical edges from
    the anchor arithmetic — it never runs the extraction regexes."""
    return _page_link_edges(spark, sf_dir).orderBy("id", "dst")


def _q_hosts_graph(spark, sf_dir):
    """Weighted host-level link graph (one combinable groupBy over the
    extracted edges; self-loops kept — same-host navigation signal)."""
    from graphiti_spark.operators.weblinks import host_graph

    return host_graph(_page_link_edges(spark, sf_dir))


def _q_hosts_pagerank(spark, sf_dir):
    """Crawl-frontier prioritization: exact-integer PageRank over the
    host multigraph extracted from page html (string node ids — the
    same fixpoint arithmetic as parts_pagerank, re-derived by DuckDB
    over the closed-form edge list)."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.centrality import pagerank
    from graphiti_spark.operators.weblinks import host_of

    e = _page_link_edges(spark, sf_dir).select(
        host_of(F.col("src")).alias("src"), host_of(F.col("dst")).alias("dst")
    )
    return pagerank(e, iters=4)


def _q_anchor_texts(spark, sf_dir):
    """Per-target anchor-text profile (r4): how the corpus describes
    each linked page — ref count, distinct sources, sorted distinct
    anchor texts. Extraction pulls the <a> body alongside the href
    (same resolution contract as page_links); the DuckDB twin asserts
    the CLOSED-FORM expected (src, dst, text) edges and aggregates
    identically."""
    from graphiti_spark.operators.weblinks import (
        anchor_text_profile,
        extract_anchor_texts,
    )
    from graphiti_spark.sources.links import load_page_anchors

    anchors = extract_anchor_texts(load_page_anchors(spark, sf_dir))
    return anchor_text_profile(anchors).orderBy("dst")


def _q_bpe_merges(spark, sf_dir):
    """BPE merge training: 12 greedy most-frequent-pair merges learned
    from the top-512 word-frequency table (the corpus-scale stage is
    the word count; the merge loop is bounded by the vocab cap). The
    DuckDB twin unrolls the identical 12 rounds — pair counts, argmax
    tie-break, and the left-to-right fold reproduced bit-for-bit."""
    from graphiti_spark.operators.bpe import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_train(docs, num_merges=12, vocab_cap=512)


def _q_docs_bpe_tokens(spark, sf_dir):
    """Per-doc token counts under the trained BPE segmentation:
    explode + broadcast(vocab) join + combinable sum; OOV words cost
    length(word) chars."""
    from graphiti_spark.operators.bpe import bpe_token_counts, bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _, seg = bpe_train(
        docs, num_merges=12, vocab_cap=512, return_segmentation=True
    )
    return bpe_token_counts(docs, seg)


def _q_bpe_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility per language (r4): BPE tokens per whitespace
    word under the corpus-trained merges — the metric tokenizer
    ablations report per language slice. One |langs|-key aggregate over
    the per-doc counts; the DuckDB twin extends the unrolled merge
    chain with the identical language rollup."""
    from graphiti_spark.operators.bpe import (
        bpe_fertility,
        bpe_token_counts,
        bpe_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _, seg = bpe_train(
        docs, num_merges=12, vocab_cap=512, return_segmentation=True
    )
    return bpe_fertility(bpe_token_counts(docs, seg), docs).orderBy("lang")


def _q_crawl_snapshot_diff(spark, sf_dir):
    """Incremental-crawl snapshot diff (r4): two crawl snapshots are
    derived deterministically from documents (prev drops doc_id%11==3,
    curr drops doc_id%11==7 and rewrites text for doc_id%13==5), keyed
    by a unique canonical URL and sha256 content identity; the diff
    tags every URL new/gone/changed/unchanged. The refetch set
    (new+changed) is what a recrawl feeds to ingest_incremental; gone
    drives takedown deletes. One full-outer sort-merge join — the
    DuckDB twin rebuilds both snapshots with the same arithmetic and
    FULL OUTER JOINs them."""
    from graphiti_spark.operators.weblinks import snapshot_diff

    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/art/"),
        F.col("doc_id").cast("string"),
    ).alias("url_canon")
    prev = docs.filter(F.col("doc_id") % 11 != 3).select(
        url, F.sha2(F.col("text"), 256).alias("content_sha")
    )
    curr_text = F.when(
        F.col("doc_id") % 13 == 5, F.concat(F.col("text"), F.lit(" updated"))
    ).otherwise(F.col("text"))
    curr = docs.filter(F.col("doc_id") % 11 != 7).select(
        url, F.sha2(curr_text, 256).alias("content_sha")
    )
    return snapshot_diff(prev, curr).orderBy("url_canon")


def _q_crawl_refetch_set(spark, sf_dir):
    """The recrawl work list (r4): ``refetch_set`` over the same derived
    snapshot diff as ``crawl_snapshot_diff`` — only the new+changed
    URLs a recrawl re-processes. Pure filter over the diff join output
    (pushes down; no extra shuffle); the DuckDB twin filters its own
    rebuilt FULL OUTER JOIN the same way."""
    from graphiti_spark.operators.weblinks import refetch_set

    return refetch_set(_q_crawl_snapshot_diff(spark, sf_dir)).orderBy(
        "url_canon"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # pipeline stages (S1-S9, E1-E10, D1-D17, T1-T6)
        "pages_text": _q_pages_text,
        "episodes": _q_episodes,
        "mentions": _q_mentions,
        # E1 pronoun disambiguation, standalone recency heuristic (r4)
        "pronoun_links": _q_pronoun_links,
        "triples": _q_triples,
        "entities": _q_entities,
        "edges_merged": _q_edges_merged,
        "edges_temporal": _q_edges_temporal,
        "flagship_triples": _q_flagship,
        "nodes": _q_nodes,
        "typed_exclusion": _q_typed_exclusion,
        "edges_type_enforced": _q_edges_type_enforced,
        "mention_edges": _q_mention_edges,
        "episode_context": _q_episode_context,
        "nodes_paginated": _q_nodes_paginated,
        "remove_episode_edges": _q_remove_episode_edges,
        # retrieval layer (Q1-Q9, G1, G5-G7)
        "bm25_documents": _q_bm25_documents,
        "cosine_topk_embeddings": _q_cosine_topk,
        "ann_lsh_embeddings": _q_ann_lsh,          # oracle: sha256 planes (r3)
        "ann_ivf_embeddings": _q_ann_ivf,          # oracle: sha256 centroids (r3)
        "ann_ivf_quantized": _q_ann_ivf_quantized,  # int8 scan path (r4)
        # trained-centroid IVF: kmeans output in the centroids slot (r4)
        "ann_ivf_kmeans": _q_ann_ivf_kmeans,
        # multi-probe LSH: boundary-bit flips, no extra index (r4)
        "ann_lsh_multiprobe": _q_ann_lsh_multiprobe,
        # IVF-bounded kNN graph -> reciprocal-NN merge pairs (r4)
        "embeddings_knn_mutual": _q_embeddings_knn_mutual,
        # reciprocal-NN pairs -> CC clusters (agglomerative step, r4)
        "embeddings_rnn_clusters": _q_embeddings_rnn_clusters,
        # frozen-centroid index-add == same-centroid full build (r4)
        "ann_ivf_incremental": _q_ann_ivf_incremental,
        "mmr_embeddings": _q_mmr,                  # oracle: unrolled greedy CTEs
        "bfs_reachable": _q_bfs_reachable,
        "node_distance_src1": _q_node_distance,
        "mentions_rerank": _q_mentions_rerank,
        "neighbor_weights": _q_neighbor_weights,
        "filtered_edges": _q_filtered_edges,
        # bi-temporal as-of diff: added/removed between two times (r4)
        "graph_asof_diff": _q_graph_asof_diff,
        "communities": _q_communities,
        # community cosine channel via community_similarity_search (r5)
        "communities_cosine": _q_communities_cosine,
        # G4 community maintenance inside the delta-incremental ingest
        # (r4): prior-half LP communities + direct/neighbor placement of
        # every batch canonical, vs the oracle's re-derivation
        "communities_incremental": _q_communities_incremental,
        "has_member_incremental": _q_has_member_incremental,
        "hybrid_search_edges": _q_hybrid_search,  # oracle: mapped embeddings (r3)
        "hybrid_search_docs": _q_hybrid_search_docs,
        # training-data pipeline ops over documents/embeddings
        "docs_exact_dedup": _q_docs_exact_dedup,
        "docs_near_dup": _q_docs_near_dup,
        "docs_near_dup_word3": _q_docs_near_dup_word3,
        # batch-vs-prior-index dedup, full recall vs brute force (r4)
        "docs_near_dup_incremental": _q_docs_near_dup_incremental,
        "docs_simhash": _q_docs_simhash,  # oracle: brute-force hamming (r3)
        "docs_canonical": _q_docs_canonical,       # oracle: recursive-CTE closure
        "docs_split_clusters": _q_docs_split_clusters,  # leakage-safe split (r4)
        # best-quality cluster representative, one combinable agg (r4)
        "docs_representatives": _q_docs_representatives,
        # dedup-health histogram: corpus mass by cluster size (r4)
        "docs_cluster_sizes": _q_docs_cluster_sizes,
        # edit-distance-1 similarity join, full recall vs brute force (r4)
        "docs_edit_distance_pairs": _q_docs_edit_distance_pairs,
        "docs_dup_rate_by_host": _q_docs_dup_rate_by_host,  # template farms (r4)
        "docs_contrastive_pairs": _q_docs_contrastive_pairs,  # training triples (r4)
        # touched-components-only canon update == full rebuild (r4)
        "docs_canonical_incremental": _q_docs_canonical_incremental,
        # streamed versioned dedup state == one-shot rebuild (r4)
        "dedup_state_stream": _q_dedup_state_stream,
        # takedown repair == rebuild over the remaining corpus (r4)
        "dedup_state_takedown": _q_dedup_state_takedown,
        "embeddings_near_dup": _q_embeddings_near_dup,
        # SemDeDup: IVF-cell clustering + within-cell cosine CC (r4)
        "embeddings_semantic_dedup": _q_embeddings_semantic_dedup,
        # embedding-level eval-set decontamination (r4)
        "embeddings_semantic_decontam": _q_embeddings_semantic_decontam,
        # exact-integer-mean Lloyd refinement of the IVF centroids (r4)
        "embeddings_kmeans": _q_embeddings_kmeans,
        # mergeable prototype state: shard fold == one-pass mean (r4)
        "embeddings_label_prototypes": _q_embeddings_label_prototypes,
        # exact-subtraction takedown == rebuild over the remainder (r4)
        "embeddings_prototype_takedown": _q_embeddings_prototype_takedown,
        # the composed curation funnel, hash-proven end-to-end (r4)
        "docs_curation_funnel": _q_docs_curation_funnel,
        "docs_language_id": _q_docs_language_id,
        # homoglyph folding: one-pass confusable repair (r4)
        "docs_fold_homoglyphs": _q_docs_fold_homoglyphs,
        # Z-order layout keys: two-dimensional data skipping (r4)
        "docs_zorder_keys": _q_docs_zorder_keys,
        "docs_token_stats": _q_docs_token_stats,
        "docs_quality": _q_docs_quality,
        "docs_fingerprint": _q_docs_fingerprint,
        "docs_pii": _q_docs_pii,
        "docs_pii_redacted": _q_docs_pii_redacted,
        "docs_decontaminated": _q_docs_decontaminated,
        "docs_chunks": _q_docs_chunks,
        "docs_sample_stratified": _q_docs_sample_stratified,
        "docs_mixture_rates": _q_docs_mixture_rates,
        "docs_mixture": _q_docs_mixture,
        "docs_quality_quantile": _q_docs_quality_quantile,
        "docs_dedup_lines": _q_docs_dedup_lines,
        "docs_host_boilerplate": _q_docs_host_boilerplate,  # host-scoped (r4)
        "docs_domain_cap": _q_docs_domain_cap,    # per-domain quota (r4)
        "docs_fix_mojibake": _q_docs_fix_mojibake,  # cp1252 repair (r4)
        "docs_epoch_order": _q_docs_epoch_order,  # training-order shards (r4)
        # exact-substring (suffix-array-equivalent) span dedup (r4)
        "docs_dup_spans": _q_docs_dup_spans,
        "docs_dup_spans_incremental": _q_docs_dup_spans_incremental,
        # streamed versioned span state == one-shot rebuild (r4)
        "span_state_stream": _q_span_state_stream,
        # span takedown repair == rebuild over the remaining corpus (r4)
        "span_state_takedown": _q_span_state_takedown,
        "docs_despanned_raw": _q_docs_despanned_raw,
        # concat-and-chunk sequence packing (r4)
        "docs_packed": _q_docs_packed,
        "docs_despanned": _q_docs_despanned,
        "events_asof_clicks": _q_events_asof_clicks,
        "events_asof_next_error": _q_events_asof_next_error,
        "events_sessions": _q_events_sessions,
        "parts_pagerank": _q_parts_pagerank,
        "parts_ppr": _q_parts_ppr,
        "parts_hits": _q_parts_hits,
        "parts_degree": _q_parts_degree,
        "docs_sample_fraction": _q_docs_sample_fraction,
        "parts_cooccur_lift": _q_parts_cooccur_lift,
        "parts_triangles": _q_parts_triangles,
        "parts_clustering": _q_parts_clustering,  # local clustering coeff (r4)
        "parts_kcore": _q_parts_kcore,
        "embeddings_quantized": _q_embeddings_quantized,
        "docs_repetition": _q_docs_repetition,
        "media_metadata": _q_media_metadata,
        "frame_offsets": _q_frame_offsets,
        # fuzzy edge dedup / temporal candidates (D16-D18, T4)
        "edge_dup_pairs_src1": _q_edge_dup_pairs,        # oracle: overlap half
        "invalidation_candidates": _q_invalidation_candidates,  # oracle: mapped embeddings (r3)
        # D2/D3/D4 name kernels, G8 lookup, Q6 rerank (r3: were pytest-only)
        "docs_name_kernels": _q_docs_name_kernels,
        "mentioned_nodes": _q_mentioned_nodes,
        "cross_encoder_docs": _q_cross_encoder_docs,
        # E7 typed attribute extraction
        "node_attributes": _q_node_attributes,
        # D9/Q7/Q8 incremental ingest vs existing graph
        "incremental_merge": _q_incremental_merge,
        # episode→subgraph fetch (reference get_nodes_and_edges_by_episode)
        "episode_subgraph": _q_episode_subgraph,
        # reverse provenance: episodes cited by a set of edges (r5)
        "episodes_by_mentions": _q_episodes_by_mentions,
        # Structured Streaming micro-batch ingest ≡ one batch (r3)
        "streaming_merge": _q_streaming_merge,
        # snapshot + delta-dir MERGE commit, merge-on-read ≡ one batch (r3)
        "delta_commit_merge": _q_delta_commit_merge,
        # E6 in-text date extraction (valid_at ≠ warc_ts)
        "edges_dated": _q_edges_dated,
        # T4-driven cross-predicate invalidation (reference truth table)
        "edges_temporal_t4": _q_edges_temporal_t4,
        # EpisodeType variants (message speaker rule / json traversal)
        "episodes_typed_mentions": _q_episodes_typed_mentions,
        # crawl front door: URL canonicalization / dedup / domain ops (r4)
        "urls_canonical": _q_urls_canonical,
        "urls_dedup": _q_urls_dedup,
        "domains_stats": _q_domains_stats,
        "urls_domain_filter": _q_urls_domain_filter,
        # corpus LM quality: CCNet perplexity + DSIR importance (r4)
        "docs_perplexity": _q_docs_perplexity,
        "docs_dsir_weights": _q_docs_dsir_weights,
        "docs_tfidf_keywords": _q_docs_tfidf_keywords,
        # DeepWalk-style walk corpus for graph-embedding training (r4)
        "parts_walks": _q_parts_walks,
        "parts_skipgrams": _q_parts_skipgrams,
        "parts_skipgram_negatives": _q_parts_skipgram_negatives,
        # the composed walk-corpus export, hash-proven end-to-end (r4)
        "parts_walk_corpus": _q_parts_walk_corpus,
        # salted two-phase top-k == plain window (r4)
        "parts_salted_topk": _q_parts_salted_topk,
        "parts_biased_walks": _q_parts_biased_walks,
        # mergeable corpus sketches: KMV distinct + MG heavy hitters (r4)
        "docs_distinct_kmv": _q_docs_distinct_kmv,
        "docs_kmv_jaccard": _q_docs_kmv_jaccard,  # sketch-only overlap (r4)
        "docs_heavy_hitters": _q_docs_heavy_hitters,
        # bottom-k sample quantiles: mergeable, no global sort (r4)
        "docs_token_quantile_sketch": _q_docs_token_quantile_sketch,
        # crawl link graph: href extraction → host graph → PageRank (r4)
        "page_links": _q_page_links,
        "hosts_graph": _q_hosts_graph,
        "hosts_pagerank": _q_hosts_pagerank,
        "anchor_texts": _q_anchor_texts,  # per-target anchor-text profile (r4)
        "crawl_snapshot_diff": _q_crawl_snapshot_diff,  # recrawl delta (r4)
        "crawl_refetch_set": _q_crawl_refetch_set,  # recrawl work list (r4)
        # BPE tokenizer merge training + corpus encoding (r4)
        "bpe_merges": _q_bpe_merges,
        "docs_bpe_tokens": _q_docs_bpe_tokens,
        "bpe_fertility_by_lang": _q_bpe_fertility_by_lang,
    }


def oracle_sql() -> dict[str, str]:
    return oracle_queries()
