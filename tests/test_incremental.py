"""Incremental ingest (D9/Q7/Q8): incremental ≡ batch, uuid stability,
state roundtrip through materialize, and the batch probes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphiti_spark.config import NOUN_ENTITY_TYPES, RunConfig
from graphiti_spark.operators.incremental import (
    get_relevant_edges,
    get_relevant_nodes,
    ingest_incremental,
)
from graphiti_spark.pipeline import run_pipeline_from_pages
from graphiti_spark.sources.pages import load_pages

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def split_run(spark):
    """Batch A (even doc_id) ingested, then batch B (odd) incrementally;
    plus the one-batch reference over the full corpus."""
    pages = load_pages(spark, SF).persist()
    out_a = run_pipeline_from_pages(
        spark, pages.filter(F.col("doc_id") % 2 == 0), RunConfig()
    )
    merged = ingest_incremental(
        spark, pages.filter(F.col("doc_id") % 2 == 1), out_a
    )
    full = run_pipeline_from_pages(spark, pages, RunConfig())
    return out_a, merged, full


def _rows(df, *cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_incremental_equals_batch_nodes(split_run):
    _, merged, full = split_run
    got = _rows(merged["nodes"], "uuid", "name", "group_id", "mention_count",
                "summary")
    want = _rows(full["nodes"], "uuid", "name", "group_id", "mention_count",
                 "summary")
    assert got == want


def test_incremental_equals_batch_edges(split_run):
    _, merged, full = split_run
    cols = ["uuid", "group_id", "source_node_uuid", "target_node_uuid",
            "name", "fact", "valid_at", "invalid_at", "expired_at"]
    assert _rows(merged["edges"], *cols) == _rows(full["edges"], *cols)


def test_incremental_episode_provenance_matches_batch(split_run):
    """episodes arrays (temporal order → episodes[0] = creating episode)
    must merge identically across batches."""
    _, merged, full = split_run
    got = {(r.uuid, tuple(r.episodes)) for r in
           merged["edges_merged"].select("uuid", "episodes").collect()}
    want = {(r.uuid, tuple(r.episodes)) for r in
            full["edges_merged"].select("uuid", "episodes").collect()}
    assert got == want


def test_uuid_stability_across_runs(split_run):
    """Content-derived ids: every batch-A canonical node that was not
    merged with a batch-B alias keeps its uuid in the merged graph."""
    out_a, merged, _ = split_run
    a_nodes = {r.uuid for r in out_a["nodes"].select("uuid").collect()}
    merged_nodes = {r.uuid for r in merged["nodes"].select("uuid").collect()}
    remapped = {
        r.uuid
        for r in merged["uuid_map"]
        .filter(F.col("uuid") != F.col("canonical_uuid"))
        .collect()
    }
    surviving = a_nodes - remapped
    assert surviving  # the common case: most nodes are stable
    assert surviving <= merged_nodes


def test_incremental_from_saved_state(spark, split_run, tmp_path):
    """The resolution state survives a save_graph/load_graph roundtrip:
    incremental ingest from the LOADED prior equals the in-memory path."""
    from graphiti_spark.materialize import load_graph, save_graph

    out_a, merged, _ = split_run
    save_graph(out_a, str(tmp_path))
    prior = load_graph(spark, str(tmp_path))
    assert set(prior) >= {"nodes", "edges", "mention_edges", "episodes",
                          "entities", "pairs"}
    pages = load_pages(spark, SF)
    merged2 = ingest_incremental(
        spark, pages.filter(F.col("doc_id") % 2 == 1), prior
    )
    assert _rows(merged2["nodes"], "uuid", "mention_count") == _rows(
        merged["nodes"], "uuid", "mention_count"
    )


def test_incremental_equals_batch_with_dated_content(spark):
    """E6 interaction (ADVICE r02 high): when the corpus text STATES
    dates, the batch path resolves edge valid_at from the in-text date
    (stated_date_col), so the incremental path must recover the same
    instant when exploding prior edges — not the episodes' warc_ts."""
    pages = load_pages(spark, SF)
    d = F.col("doc_id")
    dated_text = (
        F.when(d % 3 == 0, F.concat(F.col("text"), F.lit(" since "),
                                    (F.lit(2015) + d % 8).cast("string")))
        .when(d % 3 == 1, F.concat(F.col("text"), F.lit(" on 2020-03-0"),
                                   ((d % 9) + 1).cast("string")))
        .otherwise(F.col("text"))
    )
    pages = pages.withColumn("text", dated_text).persist()

    out_a = run_pipeline_from_pages(
        spark, pages.filter(F.col("doc_id") % 2 == 0), RunConfig()
    )
    merged = ingest_incremental(
        spark, pages.filter(F.col("doc_id") % 2 == 1), out_a
    )
    full = run_pipeline_from_pages(spark, pages, RunConfig())

    # the fixture must exercise the divergence: some stated date ≠ warc_ts
    assert full["edges"].filter(
        F.year("valid_at") < 2024
    ).count() > 0

    cols = ["uuid", "source_node_uuid", "target_node_uuid", "name",
            "fact", "valid_at", "invalid_at"]
    assert _rows(merged["edges"], *cols) == _rows(full["edges"], *cols)
    got_prov = {(r.uuid, tuple(r.episodes)) for r in
                merged["edges_merged"].select("uuid", "episodes").collect()}
    want_prov = {(r.uuid, tuple(r.episodes)) for r in
                 full["edges_merged"].select("uuid", "episodes").collect()}
    assert got_prov == want_prov
    pages.unpersist()


def test_incremental_honors_excluded_entity_types(spark):
    """E3 exclusion on the incremental path: with System-typed mentions
    excluded, batch A then batch B hash-equals one batch over A ∪ B
    (the associativity contract holds under RunConfig's exclusion)."""
    from scripts.verify_oracle import frame_hash

    cfg = RunConfig(excluded_entity_types=("System",))
    pages = load_pages(spark, SF).persist()
    odd = F.col("doc_id") % 2 == 1
    out_a = run_pipeline_from_pages(spark, pages.filter(~odd), cfg)
    merged = ingest_incremental(spark, pages.filter(odd), out_a, cfg)
    full = run_pipeline_from_pages(spark, pages, cfg)
    # batch B names System-typed nouns, so the exclusion matters there
    system_nouns = sorted(n for n, t in NOUN_ENTITY_TYPES.items() if t == "System")
    system_re = r"\b(" + "|".join(system_nouns) + r")\b"
    assert pages.filter(odd & F.col("text").rlike(system_re)).count() > 0
    for name in ("edges", "nodes", "mention_edges"):
        got, want = merged[name].collect(), full[name].collect()
        assert len(got) == len(want), name
        assert frame_hash(merged[name].columns, [tuple(r) for r in got]) == \
            frame_hash(full[name].columns, [tuple(r) for r in want]), name
    pages.unpersist()


def test_apply_graph_delta_never_fabricates_missing_tables(spark, tmp_path):
    """A base snapshot WITHOUT a table cannot be patched from a
    batch-sized upsert set: installing the partial frame as the whole
    table would silently corrupt later merges (a uuid_map missing its
    prior components breaks repoint detection). The table must stay
    absent so consumers rebuild it from first principles."""
    from graphiti_spark.materialize import apply_graph_delta, save_graph_delta

    up = spark.range(3).select(
        F.col("id").cast("string").alias("uuid"),
        F.col("id").cast("string").alias("canonical_uuid"),
    )
    save_graph_delta({"uuid_map": {"upserts": up}}, str(tmp_path / "d0"))
    base = {
        "edges": spark.range(1).select(F.col("id").cast("string").alias("uuid"))
    }
    out = apply_graph_delta(spark, base, str(tmp_path / "d0"))
    assert "uuid_map" not in out
    assert out["edges"].count() == 1  # untargeted base tables untouched


def test_get_relevant_nodes_probe(spark):
    """Q7: a probe name retrieves its near-duplicate existing candidates
    through the LSH index (and not unrelated names)."""
    existing = spark.createDataFrame(
        [("e1", "g", "the acme corporation"), ("e2", "g", "zyx widgets inc")],
        "uuid string, group_id string, name string",
    )
    probes = spark.createDataFrame(
        [("p1", "g", "the acme corporation")],
        "uuid string, group_id string, name string",
    )
    got = {(r.probe_uuid, r.candidate_uuid)
           for r in get_relevant_nodes(probes, existing).collect()}
    assert ("p1", "e1") in got
    assert ("p1", "e2") not in got


def test_get_relevant_edges_probe(spark):
    """Q8: candidates share BOTH endpoints within the group."""
    mk = lambda u, s, d: (u, "g", s, d)  # noqa: E731
    existing = spark.createDataFrame(
        [mk("x1", "a", "b"), mk("x2", "a", "c")],
        "uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string",
    )
    probes = spark.createDataFrame(
        [mk("p1", "a", "b")],
        "uuid string, group_id string, source_node_uuid string, "
        "target_node_uuid string",
    )
    got = {(r.probe_uuid, r.candidate_uuid)
           for r in get_relevant_edges(probes, existing).collect()}
    assert got == {("p1", "x1")}


def _synthetic_pages(spark, group, n, start=0):
    """pages rows over the frozen gazetteer with rotating subj/verb/obj,
    one group per corpus — lets tests control cross-batch overlap."""
    from graphiti_spark.config import ENTITY_NOUNS_SORTED, RELATION_VERBS_SORTED

    nouns, verbs = list(ENTITY_NOUNS_SORTED), list(RELATION_VERBS_SORTED)
    rows = [
        (
            f"https://t.test/{group}/{i + start}",
            f"{nouns[i % len(nouns)]} {verbs[i % len(verbs)]} "
            f"{nouns[(i + 1) % len(nouns)]}",
            i + start,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "url string, text string, doc_id long")
    return df.select(
        "url",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=F.col("doc_id").cast("int"))
        ).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
        F.lit(group).alias("group_id"),
        "doc_id",
    )


def test_delta_ingest_touches_only_the_batch_subgraph(spark):
    """VERDICT r02 #1 'done' criterion: prior-graph rows processed must
    scale with the BATCH, not the graph. A disjoint-group batch touches
    zero prior edges/nodes; the merged output still equals one batch."""
    prior_pages = _synthetic_pages(spark, "gbig", 120)
    batch_pages = _synthetic_pages(spark, "gnew", 4, start=1000)
    prior = run_pipeline_from_pages(spark, prior_pages, RunConfig())
    merged = ingest_incremental(spark, batch_pages, prior)

    # locality: nothing in the prior graph was re-processed
    assert merged["delta"]["edges_touched_prior"].count() == 0
    assert merged["delta"]["nodes"]["deletes"].count() == 0
    n_batch_aliases = merged["delta"]["uuid_map"]["upserts"].count()
    assert n_batch_aliases <= 12  # ≤ distinct names in a 4-doc batch

    # correctness: merged ≡ one batch over the union
    full = run_pipeline_from_pages(
        spark, prior_pages.unionByName(batch_pages), RunConfig()
    )
    cols = ["uuid", "source_node_uuid", "target_node_uuid", "name", "fact",
            "valid_at", "invalid_at", "expired_at"]
    assert _rows(merged["edges"], *cols) == _rows(full["edges"], *cols)
    assert _rows(merged["nodes"], "uuid", "name", "mention_count",
                 "summary") == _rows(full["nodes"], "uuid", "name",
                                     "mention_count", "summary")


def test_delta_preserves_expired_at_of_unchanged_closings(spark):
    """r3 MERGE locality + bi-temporal fidelity under a later run_ts:
    (a) edges newly closed by the batch's instants stamp THIS batch's
    run_ts; (b) an affected-but-unchanged UNTOUCHED edge keeps its
    closing and original expiry and is EXCLUDED from the delta upserts;
    (c) a RE-MERGED edge (key collision → episode union) whose closing
    is unchanged is upserted (its provenance changed) but still keeps
    the expiry stamped by the run that actually closed it."""
    from datetime import datetime, timezone

    n1, n2, n3, n4, n5, n6 = "spark", "vector", "window", "stream", "batch", "hash"

    def mk(texts, start_min):
        rows = [
            (f"https://t.test/exp/{i + start_min}", t, i + start_min)
            for i, t in enumerate(texts)
        ]
        df = spark.createDataFrame(rows, "url string, text string, doc_id long")
        return df.select(
            "url",
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(mins=F.col("doc_id").cast("int"))
            ).alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            F.lit("en").alias("lang"),
            F.lit("gexp").alias("group_id"),
            "doc_id",
        )

    t1 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    t2 = datetime(2026, 2, 2, tzinfo=timezone.utc)
    f12, f13 = f"{n1} join {n2}", f"{n1} join {n3}"
    f25, f26 = f"{n2} join {n5}", f"{n2} join {n6}"
    f14 = f"{n1} join {n4}"
    # prior instants: n1@{0,1}, n2@{0,2,3} → e12 closes @1, e25 @3 (both
    # expired t1); e13 and e26 stay open after the prior run
    prior = run_pipeline_from_pages(
        spark, mk([f12, f13, f25, f26], 0), RunConfig(run_ts=t1)
    )
    # batch: new fact n1→n4 @9 and a RE-STATEMENT of f12 @10. The
    # re-statement merges into e12 (key collision → touched/re-merged)
    # WITHOUT adding an instant — the merged edge keeps its earliest
    # valid_at (one-batch semantics). Only n1@9/n4@9 are new instants.
    merged = ingest_incremental(
        spark, mk([f14, f12], 9), prior, RunConfig(run_ts=t2)
    )

    def by_fact(df):
        return {
            f: df.filter(F.col("fact") == f).collect()
            for f in (f12, f13, f25, f26, f14)
        }

    m = datetime(2024, 1, 1, 0, 0)
    mins = lambda k: m.replace(minute=k)  # noqa: E731
    t1n, t2n = t1.replace(tzinfo=None), t2.replace(tzinfo=None)

    edges = by_fact(merged["edges"])
    assert all(len(v) == 1 for v in edges.values())
    e12, e13, e25, e26, e14 = (edges[f][0] for f in (f12, f13, f25, f26, f14))

    # (a) the edge the new n1@9 instant closes stamps t2; the new edge
    # and e26 (no later instant at their endpoints) stay open
    assert (e13.invalid_at, e13.expired_at) == (mins(9), t2n)
    assert (e26.invalid_at, e26.expired_at) == (None, None)
    assert (e14.invalid_at, e14.expired_at) == (None, None)
    # (b) affected-but-unchanged untouched edges keep closing + expiry
    assert (e25.invalid_at, e25.expired_at) == (mins(3), t1n)
    # (c) the re-merged edge's closing is unchanged → expiry PRESERVED
    assert (e12.invalid_at, e12.expired_at) == (mins(1), t1n)

    # exactly the re-stated edge was touched
    touched = merged["delta"]["edges_touched_prior"]
    assert [r.fact for r in touched.collect()] == [f12]

    ups = by_fact(merged["delta"]["edges"]["upserts"])
    assert len(ups[f25]) == 0          # unchanged untouched: not upserted
    assert len(ups[f26]) == 0          # unchanged (still-open) ditto
    assert len(ups[f12]) == 1          # re-merged: upserted...
    assert ups[f12][0].expired_at == t1n  # ...with the ORIGINAL expiry
    assert len(ups[f13]) == 1 and len(ups[f14]) == 1


def test_delta_ingest_episode_union_touches_one_edge(spark):
    """A batch repeating ONE prior fact (same group) must touch exactly
    the colliding edge — episode provenance unions, everything else
    passes through untouched."""
    prior_pages = _synthetic_pages(spark, "g1", 60)
    # doc 0's fact again, new url/timestamp → same edge key, new episode
    batch_pages = _synthetic_pages(spark, "g1", 1, start=5000).withColumn(
        "text", F.lit("table dup batch")
    )
    # make the repeated fact actually exist in prior: doc with that text
    prior_pages = prior_pages.unionByName(
        _synthetic_pages(spark, "g1", 1, start=4000).withColumn(
            "text", F.lit("table dup batch")
        )
    )
    prior = run_pipeline_from_pages(spark, prior_pages, RunConfig())
    merged = ingest_incremental(spark, batch_pages, prior)

    touched = merged["delta"]["edges_touched_prior"]
    assert touched.count() == 1
    uid = touched.collect()[0].uuid
    eps = {
        tuple(r.episodes)
        for r in merged["edges_merged"].filter(F.col("uuid") == uid).collect()
    }
    assert len(next(iter(eps))) == 2  # provenance unioned across batches
