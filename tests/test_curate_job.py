"""End-to-end run of the curate CLI (jobs/curate_corpus.py main) over a
small synthetic corpus: every optional stage on, then the oracle's
settings against operators/curation.py:curation_funnel."""

from __future__ import annotations

import json
import random
import re
import sys

import pytest

from graphiti_spark.operators.curation import PII_PATTERNS

WORDS = (
    "data table query stream vector window merge value column group part "
    "hash batch order join filter index graph node edge model train sample "
    "token corpus shard cluster record schema metric signal layer cache "
    "report source target update insert select partition planner runtime "
    "driver worker memory storage network latency budget"
).split()
STOP = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
BOILERPLATE = "subscribe to the newsletter for updates on all of our products"
SHARED_RUN = "quarterly planner budget runtime latency storage memory network shard"
BENCH_TEXT = (
    "the benchmark question asks which planner picks the broadcast join "
    "for a small dimension table and why the shuffle is avoided"
)


def _line(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS + list(STOP)) for _ in range(14))


def _corpus() -> list[tuple[int, str]]:
    """40 docs: one exact duplicate (2 = 1), one near duplicate (4 ~ 3),
    a boilerplate line on six docs, PII on three, a run of 10 tokens in
    two different lines, a benchmark passage in one, and one German doc."""
    rng = random.Random(7)
    texts = {i: "\n".join(_line(rng) for _ in range(3)) for i in range(1, 41)}
    texts[2] = texts[1]
    texts[4] = texts[3] + " extra"
    for i in (10, 11, 12, 13, 14, 15):
        texts[i] += "\n" + BOILERPLATE
    texts[16] += "\nwrite to jane.doe@example.com about the report"
    texts[17] += "\nthe cache node at 10.0.0.12 is in the cluster"
    texts[18] += "\nthe driver can reach ops@example.org and 192.168.1.7"
    texts[20] += f"\nwe saw the {SHARED_RUN} today"
    texts[21] += f"\na report on {SHARED_RUN} and the cache"
    texts[22] += "\n" + BENCH_TEXT
    texts[23] = "der hund und die katze ist nicht mit das ein eine zu\n" * 3
    return sorted(texts.items())


@pytest.fixture(scope="module")
def corpus_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("curate_cli")
    spark.createDataFrame(_corpus(), "doc_id long, text string").write.parquet(
        str(root / "in" / "documents.parquet")
    )
    spark.createDataFrame([(BENCH_TEXT,)], "text string").write.parquet(
        str(root / "bench.parquet")
    )
    rng = random.Random(11)
    vecs = {
        i: [rng.uniform(-1.0, 1.0) for _ in range(8)]
        for i in range(1, 41)
        if i % 7  # docs 7, 14, 21, ... have no embedding
    }
    vecs[31] = vecs[30]  # a semantic duplicate
    spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    ).write.parquet(str(root / "embeddings.parquet"))
    return root


def _run(spark, monkeypatch, root, name, *flags):
    from pyspark.sql import SparkSession

    from jobs.curate_corpus import main

    out = root / name
    argv = ["curate_corpus.py", "--input", str(root / "in"), "--output", str(out)]
    monkeypatch.setattr(sys, "argv", [*argv, *flags])
    # the job stops its session at the end; the tests share this one
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    main()
    stats = json.loads((out / "stats.json").read_text())
    return stats, spark.read.parquet(str(out / "docs"))


FUNNEL = (
    "input_docs",
    "after_exact_dedup",
    "after_near_dup",
    "after_semantic_dedup",
    "after_line_dedup",
    "after_span_dedup",
    "after_quality_gates",
    "after_perplexity_gate",
    "after_decontamination",
    "after_sampling",
    "curated_docs",
)
RECALL_LOSS = (
    "dropped_lsh_buckets",
    "dropped_ivf_cells",
    "dropped_ivf_rows",
    "semantic_uncovered_docs",
)


def test_curate_cli_every_stage(spark, monkeypatch, corpus_dirs):
    root = corpus_dirs
    stats, docs = _run(
        spark, monkeypatch, root, "all",
        "--semantic-dedup-embeddings", str(root / "embeddings.parquet"),
        "--semantic-max-cell", "2",
        "--span-k", "8",
        "--ppl-keep", "0.8",
        "--benchmark", str(root / "bench.parquet"),
        "--sample-rate", "0.8",
    )
    assert set(stats) == {*FUNNEL, *RECALL_LOSS, "chunks", "chunk_tokens", "wall_sec"}
    counts = [stats[k] for k in FUNNEL]
    assert counts == sorted(counts, reverse=True), stats
    # doc 2 is doc 1, doc 4 nearly doc 3, doc 31's embedding is doc 30's;
    # docs 7, 14, 21, 28, 35 have no embedding and survive SemDeDup
    assert stats["after_exact_dedup"] == 39
    assert stats["after_near_dup"] == 38
    assert stats["after_semantic_dedup"] == 37
    assert stats["semantic_uncovered_docs"] == 5
    # IVF cells of more than 2 vectors are capped: counted, never silent
    assert (stats["dropped_ivf_cells"], stats["dropped_ivf_rows"]) == (5, 17)
    assert stats["curated_docs"] == docs.count() > 0

    texts = [r.text for r in docs.collect()]
    assert not [t for t in texts for p in PII_PATTERNS.values() if re.search(p, t)]
    assert any("<EMAIL>" in t or "<IPV4>" in t for t in texts)
    assert sum(BOILERPLATE in t for t in texts) <= 1  # first copy only
    assert not any(SHARED_RUN in t for t in texts)  # span dedup: all copies


def test_curate_cli_oracle_settings_match_curation_funnel(
    spark, monkeypatch, corpus_dirs
):
    """With the oracle's thresholds (and repetition caps that pass every
    doc) the CLI keeps exactly the docs curation_funnel keeps."""
    from graphiti_spark.operators.curation import curation_funnel

    root = corpus_dirs
    _, docs = _run(
        spark, monkeypatch, root, "oracle",
        "--near-dup-threshold", "0.95",
        "--sample-rate", "0.5",
        "--max-dup-line-frac", "1",
        "--max-top2-frac", "1",
    )
    src = spark.read.parquet(str(root / "in" / "documents.parquet"))
    want = sorted(r.doc_id for r in curation_funnel(src).collect())
    assert sorted(r.doc_id for r in docs.collect()) == want
    assert want
