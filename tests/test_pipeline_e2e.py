"""End-to-end pipeline: triple P/R vs the frozen expectation set,
checkpoint resume, and determinism (BASELINE.md targets)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from graphiti_spark.config import RunConfig
from graphiti_spark.operators.extract import extract_from_text
from graphiti_spark.pipeline import run_pipeline

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pipe(spark):
    return run_pipeline(spark, SF, RunConfig())


def _expected_triples(spark):
    """Frozen expectation set: the pure-Python twin of the extractor run
    over the same corpus on the driver (the stand-in for the reference's
    emitted triples — SURVEY.md §5 P/R harness)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF}/documents.parquet").to_pydict()
    expected = set()
    for doc_id, text, source in zip(tbl["doc_id"], tbl["text"], tbl["source"]):
        _, triples = extract_from_text(text)
        for subj, pred, obj, _fact in triples:
            expected.add((source, subj, pred, obj))
    return expected


def test_triple_precision_recall(spark, pipe):
    """P/R ≥ 0.95 (BASELINE.json) — with a deterministic extractor both
    should be exactly 1.0 at the (group, subj, pred, obj) level."""
    expected = _expected_triples(spark)
    got_rows = (
        pipe["edges"]
        .join(
            pipe["nodes"].select(F.col("uuid").alias("source_node_uuid"),
                                 F.col("name").alias("subj")),
            "source_node_uuid",
        )
        .join(
            pipe["nodes"].select(F.col("uuid").alias("target_node_uuid"),
                                 F.col("name").alias("obj")),
            "target_node_uuid",
        )
        .select("group_id", "subj", F.col("name").alias("pred"), "obj")
        .collect()
    )
    got = {(r.group_id, r.subj, r.pred, r.obj) for r in got_rows}
    tp = len(got & expected)
    precision = tp / len(got)
    recall = tp / len(expected)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    # deterministic extractor: exact agreement
    assert precision == 1.0 and recall == 1.0


def test_byte_identity_invariant(spark, pipe):
    """BASELINE.json input_hint: extracted text byte-identical per url."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.concat(F.lit("https://ex.test/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.col("text").alias("orig"),
    )
    joined = pipe["pages"].select("url", "text").join(docs, "url")
    mismatches = joined.filter(
        F.col("text").cast("binary") != F.col("orig").cast("binary")
    ).count()
    assert mismatches == 0


def test_stage_selection_keeps_outputs(spark, pipe):
    """Which stages are materialized never changes results: all, the
    batch subset and none give the same final tables."""
    from graphiti_spark.config import BATCH_PERSIST_STAGES
    from scripts.verify_oracle import frame_hash

    def hashes(out):
        return {
            name: frame_hash(out[name].columns,
                             [tuple(r) for r in out[name].collect()])
            for name in ("edges", "nodes", "mention_edges")
        }

    expected = hashes(pipe)
    for stages in (BATCH_PERSIST_STAGES, False):
        out = run_pipeline(spark, SF, RunConfig(persist_stages=stages))
        assert hashes(out) == expected, stages


def test_checkpoint_resume_identical(spark, tmp_path):
    """Kill-after-stage resume: run stops after `entities`; a fresh run
    with the same checkpoint dir skips completed stages and produces
    byte-identical edges (north_rule resumability)."""
    ckpt = str(tmp_path / "ckpt")
    cfg = RunConfig(checkpoint_dir=ckpt, run_id="r1")

    # phase 1: materialize only through entities, then "die"
    out1 = run_pipeline(spark, SF, cfg)
    n_entities = out1["entities"].count()
    from graphiti_spark.lineage import stage_is_complete

    assert stage_is_complete(ckpt, "r1", "entities")
    assert stage_is_complete(ckpt, "r1", "edges")  # CC eagerness ran all

    # simulate partial failure: blow away downstream stages
    for stage in ("edges", "nodes", "mention_edges"):
        shutil.rmtree(f"{ckpt}/r1/{stage}", ignore_errors=True)
    assert not stage_is_complete(ckpt, "r1", "edges")

    # phase 2: resume — completed stages are read back, rest recompute
    out2 = run_pipeline(spark, SF, cfg)
    assert out2["entities"].count() == n_entities
    assert stage_is_complete(ckpt, "r1", "edges")

    # resumed output identical to a fresh in-memory run
    fresh = run_pipeline(spark, SF, RunConfig())
    resumed_rows = {tuple(r) for r in out2["edges"].select("uuid", "fact").collect()}
    fresh_rows = {tuple(r) for r in fresh["edges"].select("uuid", "fact").collect()}
    assert resumed_rows == fresh_rows


def test_lineage_metrics_written(spark, tmp_path):
    ckpt = str(tmp_path / "ck2")
    cfg = RunConfig(checkpoint_dir=ckpt, run_id="r2")
    out = run_pipeline(spark, SF, cfg)
    out["edges"].count()
    from graphiti_spark.lineage import read_all_metrics

    metrics = read_all_metrics(ckpt, "r2")
    stages = {m["stage"] for m in metrics}
    assert {"episodes", "entities", "edges"} <= stages
    for m in metrics:
        assert m["rows"] >= 0 and "wall_ms" in m and "partition_id" in m
