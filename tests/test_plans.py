"""Physical-plan assertions: the plans we'd want at 100 TB, not just
plans that pass (scan pruning, filter pushdown, broadcast joins,
whole-stage codegen, no Python in relational hot paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString() + "\n" + \
        df._jdf.queryExecution().optimizedPlan().toString()


SF = "/root/testdata/sf0.001"


def test_scan_prunes_columns(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    # executed plan only: the optimized plan prints the full relation
    # schema regardless of pruning
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_filter_pushdown_to_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("lang") == "en"
    )
    plan = _plan(docs)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def _remap_frames(spark):
    from graphiti_spark.operators.edges import resolve_edge_pointers

    edges = spark.range(100).select(
        F.col("id").cast("string").alias("source_node_uuid"),
        F.col("id").cast("string").alias("target_node_uuid"),
    )
    umap = spark.range(10).select(
        F.col("id").cast("string").alias("uuid"),
        F.col("id").cast("string").alias("canonical_uuid"),
    )
    return resolve_edge_pointers(edges, umap)


def test_edge_remap_broadcasts_when_small(spark):
    """D15 pointer remap must broadcast a SMALL uuid_map (size-gated by
    the planner, not a forced hint — at web scale the map outgrows the
    driver and the same code must fall back to a shuffle join)."""
    plan = _plan(_remap_frames(spark))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_edge_remap_survives_large_map(spark):
    """With broadcasting disabled (stand-in for a uuid_map above the
    broadcast threshold) the remap must still complete as a shuffle
    join — no forced-broadcast hint, no driver-side materialization."""
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        out = _remap_frames(spark)
        assert out.count() == 100  # completes
        plan = _plan(out)
        assert "BroadcastHashJoin" not in plan
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


def test_embedding_near_dup_no_cartesian(spark):
    """The embedding-dedup pair generation must go through LSH bucket
    joins — a CartesianProduct/BroadcastNestedLoopJoin here is the
    10¹⁸-pair scale-killer at a 10⁹-doc corpus."""
    from graphiti_spark.operators.dedup_docs import embedding_near_dup

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(embedding_near_dup(embs, threshold=0.45))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _blocked_site(spark, site):
    if site == "duplicate_pairs":
        from graphiti_spark.functions.smalldf import literal_df
        from graphiti_spark.operators.resolve import duplicate_pairs

        ents = literal_df(
            spark,
            [("u1", "g", "acme corporation"), ("u2", "g", "acme corp")],
            [("uuid", "string"), ("group_id", "string"), ("name", "string")],
        )
        return duplicate_pairs(ents)
    from graphiti_spark.operators import dedup_docs

    return getattr(dedup_docs, site)(spark.read.parquet(f"{SF}/documents.parquet"))


@pytest.mark.parametrize(
    "site", ["duplicate_pairs", "minhash_near_dup", "simhash_near_dup"]
)
def test_blocked_pair_sites_no_cartesian(spark, site):
    """Entity LSH, document MinHash and SimHash pair only through the
    key equi-join of blocking.blocked_pairs: a CartesianProduct or
    BroadcastNestedLoopJoin means the blocking stopped pruning."""
    plan = _plan(_blocked_site(spark, site))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_incremental_no_cartesian(spark):
    """The batch-vs-prior-index dedup must pair ONLY through band-key
    equi-joins (new x new and new x prior-index) and fetch prior text
    through semi-joins — any CartesianProduct/BroadcastNestedLoopJoin
    here re-pairs the corpus, the exact cost the index exists to avoid."""
    from graphiti_spark.operators.dedup_docs import (
        build_minhash_index,
        minhash_near_dup_incremental,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    prior = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    plan = _plan(
        minhash_near_dup_incremental(new, build_minhash_index(prior), prior)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extraction_is_pure_codegen(spark):
    """E1/E4 extraction must stay JVM-side: no Python evaluation nodes
    in the mention/triple plans (the only Arrow stage allowed is the
    html→text source UDF)."""
    from graphiti_spark.operators.extract import extract_mentions_and_triples

    episodes = spark.range(50).select(
        F.col("id").cast("string").alias("uuid"),
        F.lit("g").alias("group_id"),
        F.current_timestamp().alias("valid_at"),
        F.lit("fast table join slow window").alias("content"),
    )
    mentions, triples = extract_mentions_and_triples(episodes)
    for df in (mentions, triples):
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        # distinct must hash-aggregate; a SortAggregate here means a
        # full sort of the token stream (the dropDuplicates+first trap)
        assert "HashAggregate" in plan
        assert "SortAggregate" not in plan


def test_bm25_broadcasts_query_terms(spark):
    from graphiti_spark.search.fulltext import bm25_search, build_postings

    corpus = spark.range(20).select(
        F.col("id"), F.lit("fast table join").alias("text")
    )
    idx = build_postings(corpus, "id", "text")
    plan = _plan(bm25_search(idx, ["fast", "table"], limit=5))
    assert "BroadcastHashJoin" in plan


def test_textstats_no_python(spark):
    from graphiti_spark.operators.textstats import quality_score, token_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (token_stats(docs), quality_score(docs)):
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_curation_maps_are_shuffle_free_codegen(spark):
    """PII scan/redact and token chunking are per-row maps: no Python
    eval and no Exchange anywhere in the plan — at 100 TB they run as a
    single pass over the scan."""
    from graphiti_spark.operators.curation import (
        chunk_tokens,
        pii_redact,
        pii_scan,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (pii_scan(docs), pii_redact(docs), chunk_tokens(docs)):
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "Exchange" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set (bounded by the benchmark suite, not the
    corpus) joins the exploded doc-gram stream via broadcast — never a
    sort-merge shuffle of corpus-sized gram rows, never a cartesian."""
    from graphiti_spark.operators.curation import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _plan(decontaminate(docs, bench))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_sampling_filters_are_shuffle_free_codegen(spark):
    """Hash-sampling keep/drop is a per-row expression: no Python eval,
    no Exchange — at 100 TB it prunes rows inside the scan's stage."""
    from graphiti_spark.operators.sampling import (
        sample_fraction,
        sample_stratified,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    strat = docs.withColumn("src", (F.col("doc_id") % 3).cast("string"))
    for df in (
        sample_fraction(docs, 0.5),
        sample_stratified(strat, {"0": 0.5, "1": 0.1}, "src"),
    ):
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "Exchange" not in plan


def test_mix_corpus_broadcasts_rate_table(spark):
    """The per-stratum rate table is |targets| rows by construction —
    it must reach the corpus via broadcast, never a corpus-wide
    sort-merge shuffle or a cartesian."""
    from graphiti_spark.operators.sampling import mix_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") % 2).cast("string").alias("src"),
        F.lit(10).alias("n_tok"),
    )
    plan = _plan(mix_corpus(docs, {"0": 0.5, "1": 0.5}, 1000, "src", "n_tok"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_asof_join_has_no_join_operator(spark):
    """The as-of join is the union-sort-backfill form: one exchange on
    the key, one window — NO join operator anywhere in the plan (a
    range-probe join would explode on dense keys)."""
    from graphiti_spark.operators.events import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    plan = _plan(asof_join(left, right, on="user_id"))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan
    assert "Window" in plan


def test_dedup_lines_no_cartesian_and_combinable_winner_agg(spark):
    """Line-dedup winners come from min(struct(doc, idx)) keyed by the
    line hash — a partial-aggregating HashAggregate (hot boilerplate
    lines combine map-side; no hub reducer), never a cartesian."""
    from graphiti_spark.operators.curation import dedup_lines

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup_lines(docs))
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # map-side combine of the winner agg


def test_cross_batch_resolve_no_cartesian(spark):
    """D9 incremental blocking must join through LSH band keys — never a
    cartesian of new names × the existing index."""
    from graphiti_spark.operators.resolve import duplicate_pairs_between

    mk = lambda p: spark.range(50).select(  # noqa: E731
        F.concat(F.lit(p), F.col("id").cast("string")).alias("uuid"),
        F.lit("g").alias("group_id"),
        F.concat(F.lit(f"{p} entity name "), F.col("id").cast("string")).alias(
            "name"
        ),
    )
    plan = _plan(duplicate_pairs_between(mk("new"), mk("old")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _no_broadcast(conf):
    """Context values for 'this table is too big to broadcast'."""
    return {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }


def _type_frames(spark, local_nodes):
    import pyarrow as pa

    from graphiti_spark.operators.edge_dedup import enforce_edge_types

    edges = spark.range(100).select(
        F.col("id").cast("string").alias("source_node_uuid"),
        F.col("id").cast("string").alias("target_node_uuid"),
        F.lit("JOIN").alias("name"),
    )
    if local_nodes:
        ids = [str(i) for i in range(100)]
        nodes = spark.createDataFrame(pa.table({
            "uuid": ids,
            "labels": [["Entity", "Person"]] * len(ids),
        }))
        assert nodes.isLocal()
    else:
        nodes = spark.range(100).select(
            F.col("id").cast("string").alias("uuid"),
            F.array(F.lit("Entity"), F.lit("Person")).alias("labels"),
        )
        assert not nodes.isLocal()
    return enforce_edge_types(edges, nodes, {("Person", "Person"): ["JOIN"]})


def test_enforce_edge_types_broadcasts_when_small(spark):
    """D19 label joins follow the uuid remap's broadcast rule: a LOCAL
    node table (a driver-sized relation) is hinted."""
    out = _type_frames(spark, local_nodes=True)
    assert "strategy=broadcast" in _plan(out)
    assert "BroadcastHashJoin" in _plan(out)


def test_enforce_edge_types_survives_large_labels(spark):
    """A non-local node table (stand-in for a web-scale one) is never
    hinted: with broadcasting disabled the D19 label joins complete as
    shuffle joins — the labels side spans EVERY node and a forced
    broadcast would OOM the driver."""
    conf = spark.conf
    saved = {k: conf.get(k, None) for k in _no_broadcast(conf)}
    try:
        for k, v in _no_broadcast(conf).items():
            conf.set(k, v)
        out = _type_frames(spark, local_nodes=False)
        assert out.count() == 100  # completes
        plan = _plan(out)
        assert "strategy=broadcast" not in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        for k, v in saved.items():
            conf.set(k, v) if v is not None else conf.unset(k)


def test_bm25_broadcasts_only_query_bounded_rows(spark):
    """The docfreq broadcast must be the qterms SEMI-JOIN result (≤ |query|
    rows), never the raw per-term docfreq table (web-scale vocabulary →
    driver OOM). Asserted on runtime exchange metrics: every
    BroadcastExchange in the executed query moves ≤ |query terms| rows
    even though the corpus vocabulary is much larger."""
    from graphiti_spark.search.fulltext import bm25_search, build_postings

    conf = spark.conf
    saved = {k: conf.get(k, None) for k in _no_broadcast(conf)}
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    try:
        # auto-broadcast off: every BroadcastExchange left in the plan is
        # HINT-forced — exactly the ones that must stay query-bounded
        conf.set("spark.sql.adaptive.enabled", "false")
        for k, v in _no_broadcast(conf).items():
            conf.set(k, v)
        corpus = spark.range(200).select(
            F.col("id"),
            F.concat(
                F.lit("fast table unique"), F.col("id").cast("string")
            ).alias("text"),
        )  # vocabulary ≈ 202 distinct terms, query has 2
        idx = build_postings(corpus, "id", "text")
        out = bm25_search(idx, ["fast", "table"], limit=5)
        out.collect()

        rows = []

        def walk(node):
            if "BroadcastExchange" in node.nodeName():
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numOutputRows":
                        rows.append(kv._2().value())
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i))

        walk(out._jdf.queryExecution().executedPlan())
        assert rows, "expected broadcast exchanges in the bm25 plan"
        assert max(rows) <= 2, f"broadcast moved {max(rows)} rows (> |query|)"
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        for k, v in saved.items():
            conf.set(k, v) if v is not None else conf.unset(k)


def test_salted_topk_stays_hash_partitioned(spark):
    """The salted two-phase top-k must not collapse into a single
    partition: both windows hash-partition on their keys."""
    from graphiti_spark.config import DEFAULT_RUN_TS
    from graphiti_spark.pipeline import build_nodes

    edges = spark.range(200).select(
        F.concat(F.lit("hub"), (F.col("id") % 2).cast("string")).alias(
            "source_node_uuid"
        ),
        F.concat(F.lit("f"), F.col("id").cast("string")).alias("fact"),
    )
    ents = spark.range(2).select(
        F.concat(F.lit("hub"), F.col("id").cast("string")).alias("uuid"),
        F.lit("g").alias("group_id"),
        F.lit("hub").alias("name"), F.lit(1).alias("mention_count"),
    )
    umap = ents.select("uuid", F.col("uuid").alias("canonical_uuid"))
    plan = _plan(build_nodes(ents, umap, edges, DEFAULT_RUN_TS))
    # phase 1 partitions on (subject, salt); phase 2 on subject alone —
    # and Spark inserts partial WindowGroupLimits before each exchange
    assert "hashpartitioning(source_node_uuid" in plan
    assert "salt" in plan
    assert "WindowGroupLimit" in plan
    # no global single-partition exchange for the windows
    assert "SinglePartition" not in plan.split("AdaptiveSparkPlan")[0]


def test_quantize_is_pure_codegen_no_shuffle(spark):
    """int8 quantization is a per-row map: no Python evaluation nodes
    and no exchange anywhere in the plan."""
    from graphiti_spark.functions.quantize import quantize_embeddings

    df = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1)).cast("float") for i in range(8)])
        .alias("embedding"),
    )
    plan = _plan(quantize_embeddings(df))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_dup_spans_no_cartesian_and_codegen_grams(spark):
    """Exact-substring span dedup: gram generation must be pure codegen
    (no Python eval) and the dup-gram marking must be a keyed semi-join —
    a CartesianProduct here is the all-pairs scale-killer."""
    from graphiti_spark.operators.dedup_docs import dup_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dup_spans(docs, k=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_pack_sequences_no_global_window_over_corpus(spark):
    """The packing cumsum must be the two-pass bucket prefix sum: the
    corpus-sized window partitions by bucket (hash exchange); the only
    single-partition window is over the AGGREGATED bucket-totals frame
    (|corpus| / bucket_size rows)."""
    from graphiti_spark.operators.curation import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = pack_sequences(docs, seq_len=128)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "hashpartitioning(bucket" in plan
    # the per-doc cumsum window itself must be bucket-partitioned
    assert "partitionBy=[bucket" in plan.replace(" ", "") or \
        "hashpartitioning(bucket" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_no_cartesian(spark):
    """SemDeDup's pair generation must be the cell-keyed self-join (the
    quadratic is bounded by cell size) — a CartesianProduct means the
    clustering stopped pruning anything."""
    from graphiti_spark.operators.dedup_docs import semantic_dedup

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(semantic_dedup(embs, n_cells=8, threshold=0.4))
    assert "CartesianProduct" not in plan


def test_dup_spans_incremental_no_cartesian(spark):
    """Incremental span dedup: every prior-index access must be a keyed
    join/semi-join (gram keys or touched ids) — no nested-loop fallback."""
    from pyspark.sql import functions as F

    from graphiti_spark.operators.dedup_docs import (
        build_gram_index,
        dup_spans_incremental,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    prior = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    plan = _plan(dup_spans_incremental(new, build_gram_index(prior)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_sketch_no_python_single_pattern(spark):
    """The bottom-k quantile sample is pure relational codegen: the
    sha draw, bucketing, and struct bottom-k never leave the JVM."""
    from graphiti_spark.operators.sketch import bottomk_quantiles

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "lang", "doc_id", F.length("text").alias("n")
    )
    plan = _plan(
        bottomk_quantiles(docs, ["lang"], "doc_id", "n", [0.5], k=16)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_decontam_broadcasts_the_benchmark(spark):
    """The benchmark side is bounded by the eval suite: the corpus pass
    must be a broadcast nested-loop against it — never a shuffle of the
    corpus keyed for a sort-merge join, and never a Python stage."""
    from graphiti_spark.operators.curation import semantic_decontaminate

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = semantic_decontaminate(
        emb.filter("label <> 0"), emb.filter("label = 0")
    )
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mean_pool_no_python_combinable_agg(spark):
    """Prototype means are relational: posexplode + hash aggregate with
    a partial (map-side) phase — no Python, no window over the corpus."""
    from graphiti_spark.operators.kmeans import mean_pool

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(mean_pool(emb, ["label"], "embedding"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_bfs_arm_ranks_after_the_limit(spark):
    """The hybrid-search bfs arm ranks with an unpartitioned row_number
    window; it must see only the overfetch-limited ids, never the whole
    reachable set through a single partition (so must the RRF window
    above it). The code must bound it itself: the optimizer rule that
    can push a limit below such a window is switched off here."""
    from graphiti_spark.search import hybrid as H

    edges = spark.createDataFrame(
        [(f"e{i}", "g", f"n{i}", f"n{i + 1}", "R", "f") for i in range(30)],
        "uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string, name string, fact string",
    )
    nodes = spark.createDataFrame(
        [(f"n{i}", "node", "g", "s", None) for i in range(31)],
        "uuid string, name string, group_id string, summary string, "
        "name_embedding array<float>",
    )
    cfg = H.SearchConfig(nodes=H.ChannelConfig(["bfs"], "rrf"))
    key = "spark.sql.optimizer.excludedRules"
    saved = spark.conf.get(key, None)
    spark.conf.set(
        key, "org.apache.spark.sql.catalyst.optimizer.LimitPushDownThroughWindow"
    )
    try:
        out = H.search("x", cfg, nodes=nodes, edges=edges, origin_uuids=["n0"])["nodes"]
        lines = out._jdf.queryExecution().executedPlan().toString().splitlines()
        # the default depth reaches n1..n3 from n0
        assert sorted(r.id for r in out.collect()) == ["n1", "n2", "n3"]
    finally:
        spark.conf.set(key, saved) if saved is not None else spark.conf.unset(key)
    windows = [i for i, line in enumerate(lines) if "Window [" in line]
    assert len(windows) == 2
    for i in windows:
        assert "TakeOrderedAndProject(limit=" in lines[i + 1], lines[i + 1]


# The largest saved output at sf0.001 renders ~8.3 k characters; the
# bound keeps headroom for new columns and stays far under the 100 k
# render cap (session.py) that truncation would hide.
SAVED_PLAN_MAX_CHARS = 25_000


def test_saved_outputs_plan_over_stage_boundaries(spark):
    """Every saved output of the default (all stages materialized) run
    plans over its checkpointed inputs instead of re-rendering the full
    plan of every stage above it."""
    from graphiti_spark.config import RunConfig
    from graphiti_spark.pipeline import run_pipeline

    out = run_pipeline(spark, SF, RunConfig())
    sizes = {
        name: len(out[name]._jdf.queryExecution().toString())
        for name in ("nodes", "edges", "mention_edges", "episodes",
                     "entities", "pairs", "uuid_map", "postings")
    }
    assert max(sizes.values()) < SAVED_PLAN_MAX_CHARS, sizes


def _jobs_started(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs (counted by job group)."""
    import uuid

    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_pages_starts_no_job(spark):
    """documents.parquet is read with its schema: a schema-less read
    starts a footer-reading job on every load."""
    from graphiti_spark.sources.pages import load_pages

    assert _jobs_started(spark, lambda: load_pages(spark, SF)) == 0


def test_graph_postings_one_aggregation(spark):
    """The channels' token streams share one aggregate, so the postings
    plan has one hash exchange, not one per channel."""
    from graphiti_spark.search.fulltext import build_graph_postings

    def table(cols):
        return spark.range(3).select(
            *[F.concat(F.lit(f"{c} "), F.col("id").cast("string")).alias(c)
              for c in cols]
        )

    postings = build_graph_postings({
        "edges": table(["uuid", "group_id", "name", "fact"]),
        "nodes": table(["uuid", "group_id", "name", "summary"]),
        "episodes": table(["uuid", "group_id", "content"]),
    })
    plan = postings._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


# Jobs one build-and-save starts at sf0.001 on local[4] (measured 44, the
# same on every run): a needless stage cut, count gate, broadcast of an
# empty map or schema inference shows up here.
BUILD_JOBS_MAX = 44


def test_build_and_save_job_budget(spark, tmp_path):
    from graphiti_spark.config import RunConfig
    from graphiti_spark.materialize import save_graph
    from graphiti_spark.pipeline import run_pipeline

    def build():
        save_graph(run_pipeline(spark, SF, RunConfig()), str(tmp_path))

    assert _jobs_started(spark, build) <= BUILD_JOBS_MAX


def test_job_description_restores_the_callers(spark):
    from graphiti_spark.session import job_description

    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        with job_description(spark, "stage:x"):
            assert sc.getLocalProperty("spark.job.description") == "stage:x"
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="module")
def sf_entities(spark):
    """The sf0.001 entities, checkpointed the way run_pipeline cuts its
    `entities` stage."""
    from graphiti_spark.config import RunConfig
    from graphiti_spark.operators.extract import (
        extract_token_stream,
        mentions_from_stream,
    )
    from graphiti_spark.operators.resolve import extracted_entities
    from graphiti_spark.sources.pages import load_pages, pages_to_episodes

    episodes = pages_to_episodes(load_pages(spark, SF), RunConfig().run_ts)
    mentions = mentions_from_stream(extract_token_stream(episodes))
    return extracted_entities(mentions).localCheckpoint()


def _minhash_evals(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        "ArrowEvalPython [minhash_signature_udf" in line
        for line in plan.splitlines()
    )


def test_banded_names_runs_minhash_once(sf_entities):
    """One MinHash evaluation per read of the band rows: `explode` would
    make Spark infer a size(bands) > 0 filter and copy the UDF below the
    projection into a second ArrowEvalPython."""
    from graphiti_spark.operators.resolve import banded_names

    assert _minhash_evals(banded_names(sf_entities)) == 1


def test_duplicate_pairs_reads_materialized_bands(sf_entities):
    """blocked_pairs reads its rows three times; duplicate_pairs hands it
    checkpointed band rows, so its own plan runs no MinHash at all."""
    from graphiti_spark.operators.resolve import duplicate_pairs

    assert _minhash_evals(duplicate_pairs(sf_entities)) == 0


def test_duplicate_pairs_plan_string_bounded(sf_entities):
    """The `pairs` stage plan renders ~21 k characters with expression
    ids stripped (they widen as the session ages); when every read of
    the band rows re-planned the MinHash chain it passed the 100 k
    render cap."""
    import re

    from graphiti_spark.operators.resolve import duplicate_pairs

    text = duplicate_pairs(sf_entities)._jdf.queryExecution().toString()
    assert len(re.sub(r"#\d+", "#", text)) < SAVED_PLAN_MAX_CHARS


def test_full_curation_plan_string_bounded(spark):
    """The composition with every optional stage on plans over its stage
    checkpoints: its survivors render ~5 k characters, far under the
    100 k render cap (session.py) that truncation would hide. Before the
    perplexity stage was cut, the curate job rendered a 542 MB plan."""
    import re

    from graphiti_spark.operators.curation import curate_docs

    cur = curate_docs(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text"),
        near_dup_threshold=0.9,
        embeddings=spark.read.parquet(f"{SF}/embeddings.parquet"),
        semantic_max_cell=100_000,
        span_k=8,
        max_dup_line_frac=0.5,
        max_top2_frac=0.5,
        ppl_keep=0.8,
        benchmark=spark.createDataFrame([("a benchmark passage",)], "text string"),
        sample_rate=0.8,
    )
    text = cur.docs._jdf.queryExecution().toString()
    assert len(re.sub(r"#\d+", "#", text)) < SAVED_PLAN_MAX_CHARS


def _sf_docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def test_minhash_near_dup_reads_materialized_bands(spark):
    """minhash_near_dup hands blocked_pairs checkpointed band rows, so
    its own plan runs no MinHash (four copies of the UDF, two executed,
    when the band rows went in lazily)."""
    from graphiti_spark.operators.dedup_docs import minhash_near_dup

    assert _minhash_evals(minhash_near_dup(_sf_docs(spark))) == 0


def test_symmetrize_reads_its_input_once(spark):
    """Both edge directions come from one generator over the input: a
    union of the pairs with their reversal ran the caller's whole pair
    plan twice."""
    from graphiti_spark.operators.cc import _symmetrize

    x = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("src"), F.col("source").alias("dst")
    )
    plan = _symmetrize(x)._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert plan.count("Relation [") == 1, plan


def _leaves(node, out):
    kids = node.children()
    if kids.size() == 0:
        out.append(node)
    for i in range(kids.size()):
        _leaves(kids.apply(i), out)
    return out


def test_curation_funnel_gates_in_one_projection(spark):
    """The gate stage is per-row columns of the line-dedup checkpoint,
    not joins of that checkpoint against its own projections, and the
    funnel's plan string shrinks with it (80,622 characters with
    expression ids stripped when each gate was joined back)."""
    import re

    from graphiti_spark.operators.curation import curation_funnel

    qe = curation_funnel(_sf_docs(spark))._jdf.queryExecution()
    assert len(re.sub(r"#\d+", "#", qe.toString())) < 72_000

    def line_checkpoints(node):
        """RDD ids of the (doc_id, text) checkpoint scans under node."""
        ids = set()
        for leaf in _leaves(node, []):
            out = leaf.output()
            names = [out.apply(i).name() for i in range(out.size())]
            if leaf.nodeName() == "Scan ExistingRDD" and names == ["doc_id", "text"]:
                ids.add(leaf.rdd().id())
        return ids

    self_joins = []

    def walk(node):
        kids = node.children()
        if "Join" in node.nodeName() and (
            line_checkpoints(kids.apply(0)) & line_checkpoints(kids.apply(1))
        ):
            self_joins.append(node.nodeName())
        for i in range(kids.size()):
            walk(kids.apply(i))

    plan = qe.sparkPlan()
    assert line_checkpoints(plan), "expected a line-dedup checkpoint scan"
    walk(plan)
    assert not self_joins
