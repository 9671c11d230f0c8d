"""Cluster entry point for CORPUS CURATION: the training-data pipeline
composed end-to-end from the operator library — exact dedup, MinHash
near-dup with connected-component canonicals, C4 corpus line dedup,
optional exact-substring span dedup (--span-k), quality/language/
repetition gates, an optional CCNet-style bigram-LM perplexity gate
(--ppl-keep, LM trained on --ppl-ref or the surviving corpus itself),
optional benchmark decontamination, PII redaction, deterministic
sampling, and token-window chunking.

  spark-submit --py-files /tmp/graphiti_spark.zip \
    jobs/curate_corpus.py --input /data/sf0.1 --output /data/corpus \
    --benchmark /data/benchmarks.parquet --sample-rate 0.5

Outputs under --output:
  docs/    curated documents (doc_id, text, pred_lang, quality fields)
  chunks/  training windows (doc_id, chunk_idx, start_token, n_tokens,
           chunk_text)
  stats.json  one JSON object: the per-stage survivor funnel plus the
           dropped-LSH-bucket count and, with SemDeDup, the docs that had
           no embedding to compare (recall loss is never silent)

Every decision is content-derived and deterministic — rerunning the
job on the same input produces byte-identical outputs, so the corpus
is reproducible from (input, flags) alone. The per-stage funnel counts
cost one job each; at cluster scale keep them (they are the numbers a
data team actually monitors) or pass --no-funnel to collapse the
pipeline into the two output writes.

This layer has no reference analogue (peabodyAdmin/graphiti assumes a
clean corpus); it is the SURVEY §2 "beyond the reference"
training-data family, composed.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def semantic_dedup_docs(docs, embeddings, dropped_sink=None, **kw):
    """SemDeDup over (doc_id, ...) docs with caller-supplied (vec_id,
    embedding) rows → (kept docs, uncovered docs).

    Only semantic duplicates are dropped: a doc with no embedding row
    (or a null embedding) cannot be compared, so it survives and is
    returned in ``uncovered`` for the stats, never lost silently.
    ``kw`` goes to ``dedup_docs.semantic_dedup``.
    """
    from pyspark.sql import functions as F

    from graphiti_spark.operators.dedup_docs import semantic_dedup

    embs = (
        embeddings.select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
        .join(docs.select(F.col("doc_id").alias("vec_id")), "vec_id")
    )
    sem = semantic_dedup(embs, dropped_sink=dropped_sink, **kw)
    kept = docs.join(
        sem.filter(F.col("id") != F.col("canonical_id")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
        "left_anti",
    )
    uncovered = docs.join(
        embs.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_anti"
    )
    return kept, uncovered


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir containing documents.parquet")
    ap.add_argument("--output", required=True, help="output dir (docs/, chunks/, stats.json)")
    ap.add_argument("--benchmark", default=None, help="parquet of benchmark rows with a text column (decontamination)")
    ap.add_argument("--near-dup-threshold", type=float, default=0.9)
    ap.add_argument("--langs", default="en,und", help="comma-separated pred_lang allowlist")
    ap.add_argument("--min-quality", type=float, default=0.25)
    ap.add_argument("--max-dup-line-frac", type=float, default=0.5)
    ap.add_argument(
        "--span-k",
        type=int,
        default=0,
        help="drop exact-substring duplicate spans of >= K tokens "
        "(Lee et al. ExactSubstr; 0 = off)",
    )
    ap.add_argument("--max-top2-frac", type=float, default=0.5)
    ap.add_argument(
        "--ppl-keep",
        type=float,
        default=1.0,
        help="keep this fraction of docs with the LOWEST bigram-LM "
        "perplexity (CCNet-style gate; 1.0 = off). Unscorable docs "
        "(<2 tokens) always pass — never drop on a missing signal.",
    )
    ap.add_argument(
        "--ppl-ref",
        default=None,
        help="parquet of reference text to train the LM on (CCNet's "
        "clean-corpus role); default: the surviving corpus itself "
        "(self-perplexity drops atypical outlier docs)",
    )
    ap.add_argument(
        "--semantic-dedup-embeddings",
        default=None,
        help="parquet of (vec_id, embedding) rows keyed like doc_id: "
        "enables a SemDeDup stage (IVF-cell-bounded embedding dedup) "
        "after near-dup; only IVF-cell-local pairs are compared",
    )
    ap.add_argument("--semantic-threshold", type=float, default=0.9)
    ap.add_argument("--semantic-n-cells", type=int, default=16)
    ap.add_argument(
        "--semantic-max-cell",
        type=int,
        default=100_000,
        help="cap on IVF cell size for the SemDeDup pair join; cells "
        "above it are dropped from pairing and SURFACED in stats as "
        "dropped_ivf_cells/dropped_ivf_rows (the dropped_lsh_buckets "
        "contract) — 0 disables the cap",
    )
    ap.add_argument("--sample-rate", type=float, default=1.0)
    ap.add_argument("--sample-seed", default="curate")
    ap.add_argument("--chunk-size", type=int, default=128)
    ap.add_argument("--chunk-overlap", type=int, default=32)
    ap.add_argument("--no-funnel", action="store_true", help="skip per-stage counts (two jobs total)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = SparkSession.builder.appName("graphiti-curate-corpus")
    # cap plan STRING rendering: the composed funnel's nested plans can
    # OOM the driver on toString alone (same trap as session.py /
    # operators/incremental.py lineage notes)
    builder = builder.config("spark.sql.maxPlanStringLength", "100000")
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = builder.getOrCreate()

    from graphiti_spark.operators.curation import (
        chunk_tokens,
        decontaminate,
        dedup_lines,
        pii_redact,
    )
    from graphiti_spark.operators.dedup_docs import (
        canonical_docs,
        drop_dup_spans,
        exact_dedup,
        minhash_near_dup,
    )
    from graphiti_spark.operators.sampling import sample_fraction
    from graphiti_spark.operators.textstats import (
        language_id,
        quality_score,
        repetition_stats,
    )

    t0 = time.time()
    stats: dict[str, object] = {}
    live_caches: list = []

    def funnel(name: str, df):
        # persist each stage boundary: the funnel count then doubles as
        # the cache fill, so no downstream stage (or count) re-runs the
        # dedup/UDF chain above it — without this the lineage recompute
        # grows with every stage (measured: OOM at sf0.001 on a default
        # heap purely from re-derivation, not data size). Once the NEXT
        # stage is materialized (its own funnel count), the superseded
        # cache is released — the job holds at most two stage copies of
        # the corpus, not 8+ (ADVICE r03).
        df = df.persist()
        if not args.no_funnel:
            stats[name] = df.count()
            while live_caches:
                live_caches.pop().unpersist()
        live_caches.append(df)
        return df

    docs = spark.read.parquet(f"{args.input}/documents.parquet").select(
        "doc_id", "text"
    )
    docs = funnel("input_docs", docs)

    # 1. exact dedup: the canonical copy survives
    ex = exact_dedup(docs)
    docs = docs.join(
        ex.filter(F.col("id") == F.col("canonical_id")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
    )
    docs = funnel("after_exact_dedup", docs)

    # 2. near-dup: MinHash-LSH pairs -> CC canonicals; keep canonicals.
    # Capped LSH buckets are surfaced in stats, never dropped silently.
    drop_sink: list = []
    pairs = minhash_near_dup(
        docs, threshold=args.near_dup_threshold, dropped_sink=drop_sink
    )
    canon = canonical_docs(docs, pairs)
    docs = docs.join(
        canon.filter(F.col("id") == F.col("canonical_id")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
    )
    # counting the dropped-bucket frame is its own LSH job; under
    # --no-funnel the job really does collapse to the two output writes
    # (ADVICE r03) — recall loss stays observable in funnel mode, which
    # is the monitored configuration
    if not args.no_funnel:
        stats["dropped_lsh_buckets"] = drop_sink[0].count() if drop_sink else 0
    docs = funnel("after_near_dup", docs)

    # 2b. optional SemDeDup (Abbas et al. 2023) over caller-supplied
    # embeddings keyed like doc_id: IVF cells bound the quadratic, the
    # per-cell cap bounds centroid skew, and capped cells are surfaced
    # in stats exactly like dropped LSH buckets — recall loss at scale
    # is observable, never silent.
    if args.semantic_dedup_embeddings:
        cell_sink: list = []
        docs, uncovered = semantic_dedup_docs(
            docs,
            spark.read.parquet(args.semantic_dedup_embeddings),
            n_cells=args.semantic_n_cells,
            threshold=args.semantic_threshold,
            max_cell=args.semantic_max_cell or None,
            dropped_sink=cell_sink,
        )
        if not args.no_funnel:
            stats["semantic_uncovered_docs"] = uncovered.count()
            dropped = cell_sink[0].persist() if cell_sink else None
            stats["dropped_ivf_cells"] = dropped.count() if dropped is not None else 0
            stats["dropped_ivf_rows"] = (
                int(dropped.agg(F.sum("cell_n")).first()[0] or 0)
                if dropped is not None
                else 0
            )
            if dropped is not None:
                dropped.unpersist()
        docs = funnel("after_semantic_dedup", docs)

    # 3. corpus-level line dedup (C4): rewrite text to surviving lines
    dl = dedup_lines(docs)
    docs = docs.drop("text").join(
        dl.select(F.col("id").alias("doc_id"), F.col("text_dedup").alias("text")),
        "doc_id",
    ).filter(F.length("text") > 0)
    docs = funnel("after_line_dedup", docs)

    # 3b. optional exact-substring span dedup (Lee et al. ExactSubstr):
    # every corpus-duplicated run of >= span_k tokens is dropped (all
    # copies), operating on the line-deduped text
    if args.span_k:
        ds = drop_dup_spans(docs, k=args.span_k)
        docs = (
            docs.drop("text")
            .join(
                ds.select(
                    F.col("id").alias("doc_id"),
                    F.col("text_dedup").alias("text"),
                ),
                "doc_id",
            )
            .filter(F.length("text") > 0)
        )
        docs = funnel("after_span_dedup", docs)

    # 4. language + quality + repetition gates
    allow = [s for s in args.langs.split(",") if s]
    lang = language_id(docs).select(
        F.col("id").alias("doc_id"), "pred_lang"
    )
    qual = quality_score(docs).select(
        F.col("id").alias("doc_id"), F.col("score").alias("quality")
    )
    rep = repetition_stats(docs).select(
        F.col("id").alias("doc_id"), "dup_line_frac", "top2_char_frac"
    )
    docs = (
        docs.join(lang, "doc_id")
        .join(qual, "doc_id")
        .join(rep, "doc_id")
        .filter(F.col("pred_lang").isin(allow))
        .filter(F.col("quality") >= args.min_quality)
        .filter(F.col("dup_line_frac") <= args.max_dup_line_frac)
        .filter(F.col("top2_char_frac") <= args.max_top2_frac)
    )
    docs = funnel("after_quality_gates", docs)

    # 4c. optional CCNet-style perplexity gate: train a bigram LM on
    # the reference corpus (or the surviving corpus itself), keep the
    # lowest-perplexity fraction. Tied/rounded scores gate as a block
    # (filter_by_quantile), so the cut is order-deterministic.
    if args.ppl_keep < 1.0:
        from graphiti_spark.operators.lm import perplexity, train_bigram_lm
        from graphiti_spark.operators.sampling import filter_by_quantile

        # the LM stage references `docs` several times (model bigrams /
        # prefixes / vocab, the scoring stream, and the join back); each
        # reference would nest the ENTIRE funnel plan above it (~3^k
        # growth — a 542 MB plan string measured at sf0.001 before this
        # line). Truncate lineage first: the frame is already persisted,
        # so the checkpoint reads from cache.
        docs = docs.localCheckpoint()
        if args.ppl_ref:
            ref = (
                spark.read.parquet(args.ppl_ref)
                .select("text")
                .withColumn("doc_id", F.monotonically_increasing_id())
            )
        else:
            ref = docs
        ppl = perplexity(docs, train_bigram_lm(ref))
        scored = docs.join(
            ppl.select(F.col("id").alias("doc_id"), "ppl"), "doc_id"
        )
        gated = filter_by_quantile(
            scored.filter(F.col("ppl").isNotNull()).withColumn(
                "neg_ppl", -F.col("ppl")
            ),
            q=1.0 - args.ppl_keep,
            score_col="neg_ppl",
            id_col="doc_id",
        ).drop("pr", "neg_ppl")
        docs = gated.unionByName(
            scored.filter(F.col("ppl").isNull())
        ).drop("ppl")
        docs = funnel("after_perplexity_gate", docs)

    # 5. optional benchmark decontamination
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        dec = decontaminate(docs, bench)
        docs = docs.join(
            dec.filter(~F.col("contaminated")).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
        )
        docs = funnel("after_decontamination", docs)

    # 6. PII redaction (text leaves the pipeline only redacted)
    red = pii_redact(docs)
    docs = docs.drop("text").join(
        red.select(F.col("id").alias("doc_id"), F.col("redacted").alias("text")),
        "doc_id",
    )

    # 7. deterministic sampling
    if args.sample_rate < 1.0:
        docs = sample_fraction(
            docs, args.sample_rate, seed=args.sample_seed
        ).drop("u")
        docs = funnel("after_sampling", docs)

    # 8. persist the curated set once; both writes consume it
    docs = docs.persist()
    docs.write.mode("overwrite").parquet(f"{args.output}/docs")
    stats["curated_docs"] = docs.count()
    while live_caches:
        live_caches.pop().unpersist()

    chunks = chunk_tokens(
        docs, size=args.chunk_size, overlap=args.chunk_overlap
    ).withColumnRenamed("id", "doc_id")  # match the documented contract
    chunks.write.mode("overwrite").parquet(f"{args.output}/chunks")
    if not args.no_funnel:
        out_chunks = spark.read.parquet(f"{args.output}/chunks")
        stats["chunks"] = out_chunks.count()
        stats["chunk_tokens"] = out_chunks.agg(
            F.sum("n_tokens")
        ).first()[0]

    stats["wall_sec"] = round(time.time() - t0, 3)
    payload = json.dumps(stats, sort_keys=True)
    # write through the Hadoop FS layer, same as the docs/chunks writes —
    # a local open() would crash at the very end on hdfs://, s3://, ...
    # outputs after all the heavy work succeeded (ADVICE r03)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{args.output}/stats.json")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray((payload + "\n").encode("utf-8")))
    finally:
        stream.close()
    print(payload)
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
