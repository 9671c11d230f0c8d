"""Cluster entry point for CORPUS CURATION: a thin CLI over
operators/curation.py:curate_docs, the one composition of the
training-data funnel (exact dedup, MinHash near-dup, optional SemDeDup,
C4 line dedup, optional span dedup, language/quality/repetition gates,
optional perplexity gate, optional decontamination, deterministic
sample; the docs_curation_funnel oracle hash-proves it with the
optional stages off). The job adds PII redaction and token chunking.

  spark-submit --py-files /tmp/graphiti_spark.zip \
    jobs/curate_corpus.py --input /data/sf0.1 --output /data/corpus \
    --benchmark /data/benchmarks.parquet --sample-rate 0.5

Outputs under --output:
  docs/    curated documents (doc_id, text, pred_lang, quality fields)
  chunks/  training windows (doc_id, chunk_idx, start_token, n_tokens,
           chunk_text)
  stats.json  one JSON object: the per-stage survivor funnel plus the
           dropped-LSH-bucket count and, with SemDeDup, the dropped IVF
           cells/rows and the docs that had no embedding to compare
           (recall loss is never silent)

Every decision is content-derived and deterministic — rerunning the
job on the same input produces byte-identical outputs, so the corpus
is reproducible from (input, flags) alone. The funnel counts cost one
extra pass over the stages; at cluster scale keep them (they are the
numbers a data team actually monitors) or pass --no-funnel to skip
them. The stage checkpoints run either way.

This layer has no reference analogue (peabodyAdmin/graphiti assumes a
clean corpus); it is the SURVEY §2 "beyond the reference"
training-data family, composed.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


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
    ap.add_argument("--no-funnel", action="store_true", help="skip the stage, recall-loss and chunk counts")
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
        curate_docs,
        pii_redact,
    )

    def read(path):
        return spark.read.parquet(path) if path else None

    t0 = time.time()
    cur = curate_docs(
        read(f"{args.input}/documents.parquet").select("doc_id", "text"),
        near_dup_threshold=args.near_dup_threshold,
        embeddings=read(args.semantic_dedup_embeddings),
        semantic_threshold=args.semantic_threshold,
        semantic_n_cells=args.semantic_n_cells,
        semantic_max_cell=args.semantic_max_cell or None,
        span_k=args.span_k,
        langs=tuple(s for s in args.langs.split(",") if s),
        min_quality=args.min_quality,
        max_dup_line_frac=args.max_dup_line_frac,
        max_top2_frac=args.max_top2_frac,
        ppl_keep=args.ppl_keep,
        ppl_ref=read(args.ppl_ref),
        benchmark=read(args.benchmark),
        sample_rate=args.sample_rate,
        sample_seed=args.sample_seed,
    )
    stats: dict[str, object] = {} if args.no_funnel else cur.counts()

    # PII redaction: text leaves the pipeline only redacted. The other
    # columns ride through as pii_redact's id, so the funnel is not
    # joined back to itself (which would run its gate shuffles twice).
    rest = [c for c in cur.docs.columns if c not in ("text", "u")]
    pii_redact(
        cur.docs.select(F.struct(*rest).alias("row"), "text"), id_col="row"
    ).select("id.*", F.col("redacted").alias("text")).write.mode(
        "overwrite"
    ).parquet(f"{args.output}/docs")
    # both the count and the chunks read the written docs back, so the
    # funnel runs once more only for the write itself
    docs = spark.read.parquet(f"{args.output}/docs")
    stats["curated_docs"] = docs.count()

    chunks = chunk_tokens(
        docs, size=args.chunk_size, overlap=args.chunk_overlap
    ).withColumnRenamed("id", "doc_id")  # match the documented contract
    chunks.write.mode("overwrite").parquet(f"{args.output}/chunks")
    if not args.no_funnel:
        stats["chunks"], stats["chunk_tokens"] = (
            spark.read.parquet(f"{args.output}/chunks")
            .agg(F.count(F.lit(1)), F.sum("n_tokens"))
            .first()
        )

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
