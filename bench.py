"""Benchmark harness: full pages→knowledge-graph DAG at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "triples_per_sec", "value": N, "unit": "triples/sec",
   "queries": {stage: sec, ...}, "sf": ..., "triples": ..., ...}

Modes:
  python bench.py                 # single run (driver per-round bench)
  python bench.py --cores 8       # pin parallelism (scaling protocol runs)
  python bench.py --scaling       # run at 8 and 32 cores in subprocesses,
                                  # report scaling efficiency (BASELINE.md
                                  # protocol: efficiency = T(4N)/(4*T(N)))
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time


def replicate_corpus(sf_dir: str, factor: int, vary: bool = True) -> str:
    """Materialize a deterministic ×factor scale-up of documents.parquet.

    ``vary=True`` (the scaling-protocol default) appends a per-copy
    VOCAB-WORD tail derived from pure integer arithmetic on (doc_id, k):
    copies then produce distinct mentions/facts, so the embedding and
    dedup stages do real per-copy work instead of hitting the per-batch
    memo on 64 identical texts (the round-1 scaling run's measured flat
    stage). vary=False reproduces the old byte-identical replication."""
    import duckdb

    from graphiti_spark.config import (
        ADJECTIVES_SORTED,
        ENTITY_NOUNS_SORTED,
        RELATION_VERBS_SORTED,
    )

    tag = "var" if vary else "rep"
    out_dir = f"/tmp/graphiti_bench_{tag}{factor}_{os.path.basename(sf_dir.rstrip('/'))}"
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    vocab = list(ADJECTIVES_SORTED + ENTITY_NOUNS_SORTED + RELATION_VERBS_SORTED)
    arr = "[" + ", ".join(f"'{w}'" for w in vocab) + "]"
    n = len(vocab)
    # 8 deterministic vocab words per (doc_id, copy) — Knuth-style mixes,
    # no RNG, reproducible across engines/runs
    tail = " || ".join(
        f"' ' || ({arr})[1 + ((doc_id + 1) * 2654435761 * ({i} + 3) "
        f"+ k * 40503 * ({i} + 7)) % {n}]"
        for i in range(8)
    )
    text_expr = f"text || {tail}" if vary else "text"
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT doc_id + k * 1000000 AS doc_id, {text_expr} AS text, lang,
                 source || '-' || CAST(k AS VARCHAR) AS source, n_chars
          FROM read_parquet('{sf_dir}/documents.parquet'), range(0, {factor}) r(k)
        ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)
        """
    )
    with open(marker, "w") as fh:
        fh.write("ok")
    return out_dir


def first_touch_mb_s(size_mb: int = 256, budget_s: float = 2.0) -> float:
    """Measured rate at which the kernel backs FRESH anonymous pages.

    np.empty allocates without touching; the page-strided store then
    faults each page exactly once, so the timing isolates page-backing
    (not memset bandwidth). GB/s when the VM's memory is resident;
    8-85 MB/s when the hypervisor has unbacked the guest's free memory
    (measured, BENCH/BASELINE.md round 3) — the state that turned a
    40 s build_cc into 125 s mid-measurement. Chunked with a time budget
    so the probe itself stays ~2 s even at single-digit MB/s."""
    import numpy as np

    a = np.empty(size_mb << 20, dtype=np.uint8)
    t0 = time.monotonic()
    touched = 0
    for off in range(0, size_mb, 16):
        a[off << 20 : (off + 16) << 20 : 4096] = 1
        touched += 16
        if time.monotonic() - t0 > budget_s:
            break
    dt = max(time.monotonic() - t0, 1e-6)
    del a
    return touched / dt


def run_bench(
    sf_dir: str, cores: int | None, replicate: int = 1, fast: bool = False
) -> dict:
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)
    # Scaling legs pre-touch the JVM heap before the clock (session.py):
    # without it, multi-core legs serialize on the host's page-backing
    # rate when the hypervisor has unbacked the VM's free memory
    # (measured 8-85 MB/s first-touch vs GB/s re-touch — BENCH/BASELINE.md
    # round 3). Only in fast/scaling mode: when backing is at its worst
    # the 16 GB pre-touch itself can take many minutes of JVM startup,
    # which must not stall the plain per-round bench.
    touch_rate = None
    if fast:
        os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    elif "SPARK_GRAFT_PRETOUCH" not in os.environ:
        # Plain per-round mode: decide from a measured probe. When backing
        # is degraded the in-measurement page faults triple build_cc, so
        # pre-touching the heap BEFORE the clock is worth its startup
        # cost — but below ~48 MB/s a 16 GB pre-touch alone would stall
        # the bench for 5+ minutes, so shrink the heap (sf0.1 fits
        # comfortably in 8 GB) or, at pathological rates, skip and take
        # the in-measurement hit. The probe rate is reported in the JSON
        # so a slow draw is attributable to box state, not code.
        touch_rate = first_touch_mb_s()
        if touch_rate >= 200:
            os.environ["SPARK_GRAFT_PRETOUCH"] = "1"  # ≤ ~80 s for 16 GB
        elif touch_rate >= 48:
            os.environ["SPARK_GRAFT_PRETOUCH"] = "1"
            os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    if cores is not None:
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    if replicate > 1:
        sf_dir = replicate_corpus(sf_dir, replicate)

    from graphiti_spark.config import RunConfig
    from graphiti_spark.pipeline import run_pipeline
    from graphiti_spark.session import get_spark

    spark = get_spark(app_name=f"graphiti-bench-{cores or 'auto'}")
    sc_cores = spark.sparkContext.defaultParallelism

    # Steady-state warmup BEFORE the clock: session/JIT spin-up and the
    # Python-worker pool are cluster-provisioning costs, not throughput.
    from pyspark.sql import functions as F
    from graphiti_spark.functions.embed import make_embed_udf

    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().count()
    warm = spark.range(256).select(F.col("id").cast("string").alias("s"))
    warm.select(make_embed_udf()(F.col("s"))).count()

    timings: dict[str, float] = {}
    sc = spark.sparkContext
    sc.setJobGroup("bench", "bench")  # the timed region's Spark jobs
    t_total0 = time.monotonic()
    if fast:
        from graphiti_spark.config import BATCH_PERSIST_STAGES

        cfg = RunConfig(persist_stages=BATCH_PERSIST_STAGES)
    else:
        # Materialize exactly the reused subtrees (r3, VERDICT #6): the
        # dedup chain (consumed by the eager CC AND the final tables),
        # mentions (entities + mention_edges) and edges_merged (edges +
        # nodes). Blanket materialization measured slower: holding the
        # wide intermediate rows is memory pressure, not reuse.
        cfg = RunConfig(
            persist_stages=frozenset(
                {"episodes", "token_stream", "mentions", "entities",
                 "pairs", "edges_merged"}
            )
        )
    t0 = time.monotonic()
    out = run_pipeline(spark, sf_dir, cfg)
    # DAG build is NOT free: the CC fixpoint runs eagerly (extraction →
    # blocking → large-star/small-star iterations), and every selected
    # stage is checkpointed eagerly — the shuffle-heaviest slice of the
    # pipeline.
    timings["build_cc"] = round(time.monotonic() - t0, 3)

    counts: dict[str, int] = {}
    if fast:
        # Scaling-protocol path: shortest critical path — persists off so
        # Catalyst fuses extraction→blocking→CC→merge→windows into a few
        # deep jobs, and the measurement covers the shuffle-heavy stages
        # (BASELINE.md) rather than the sandbox's non-scaling virtio disk
        # (a parquet write of the same tables measured 438 s at 2 cores
        # vs 420 s at 8 — pure IO floor).
        # One deep job over the temporal edge table. The aggregate
        # DEPENDS on fact_embedding so column pruning cannot eliminate
        # the Arrow embed stage — the measurement covers extraction →
        # merge → embed → temporal window, with no cache materialization
        # in the timed path (persisting 2.6M embedding-wide rows
        # measured ANTI-scaling: pure cache-block memory pressure).
        t0 = time.monotonic()
        row = (
            out["edges"]
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.size("fact_embedding")).alias("dims"),
            )
            .collect()[0]
        )
        counts["edges"] = row["n"]
        timings["edges_dag"] = round(time.monotonic() - t0, 3)
    else:
        # Count the DELIVERABLE graph tables only (edges_merged is
        # already checkpointed and backs edges and nodes): re-counting every
        # intermediate stage re-measured work the finals already cover —
        # the r2 bench's wall was dominated by exactly that (VERDICT #6).
        for name in ("edges_merged", "edges", "nodes", "mention_edges"):
            t0 = time.monotonic()
            counts[name] = out[name].count()
            timings[name] = round(time.monotonic() - t0, 3)
    total = round(time.monotonic() - t_total0, 3)
    jobs = len(sc.statusTracker().getJobIdsForGroup("bench"))

    # dropped-LSH-bucket observability: capped buckets lose dedup recall
    # and must never vanish silently (0 on healthy corpora)
    dropped = out["dropped_buckets"].count() if "dropped_buckets" in out else 0

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    triples = counts["edges"]
    result = {
        "metric": "triples_per_sec",
        "value": round(triples / total, 2),
        "unit": "triples/sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "triples": triples,
        "rows": counts,
        "wall_sec": total,
        "cores": sc_cores,
        "jobs": jobs,
        "dropped_lsh_buckets": dropped,
    }
    if touch_rate is not None:
        result["first_touch_mb_s"] = round(touch_rate, 1)
    spark.stop()
    return result


def run_funnel_bench(
    sf_dir: str, cores: int | None, replicate: int = 1, fast: bool = False
) -> dict:
    """Curation-funnel core throughput (r5, VERDICT r4 next #6): exact
    dedup → MinHash near-dup canonicals → C4 line dedup → language +
    quality gates (operators.curation.curation_funnel, the oracle
    projection of the composition jobs/curate_corpus.py runs) over
    documents.parquet. Metric =
    input docs/sec; the final aggregate depends on content_sha AND
    quality so no gate stage can be pruned. Same pre-touch/warmup/
    replication discipline as the KG bench."""
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)
    if fast:
        os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    if cores is not None:
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    if replicate > 1:
        sf_dir = replicate_corpus(sf_dir, replicate)

    from pyspark.sql import functions as F

    from graphiti_spark.functions.embed import make_embed_udf
    from graphiti_spark.operators.curation import curation_funnel
    from graphiti_spark.session import get_spark

    spark = get_spark(app_name=f"graphiti-funnel-bench-{cores or 'auto'}")
    sc_cores = spark.sparkContext.defaultParallelism
    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().count()
    warm = spark.range(256).select(F.col("id").cast("string").alias("s"))
    warm.select(make_embed_udf()(F.col("s"))).count()

    # The replicated corpus is ONE parquet file → 1-2 input splits →
    # the shingle/MinHash UDF scan serializes onto 1-2 cores (the
    # load_pages lesson, CLAUDE.md; measured: the whole funnel scaling
    # gap — minhash stage efficiency 0.73 at 4 cores with 2 splits).
    # Repartition to the session's parallelism INSIDE the timed plan —
    # input staging a real cluster gets for free from many files.
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(2 * sc_cores)
    )
    n_docs = docs.count()  # input size, outside the clock

    t0 = time.monotonic()
    out = curation_funnel(docs, sample_rate=1.0)
    row = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("content_sha")).alias("sha_bytes"),
        F.sum("quality").alias("q"),
    ).collect()[0]
    total = round(time.monotonic() - t0, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark.stop()
    return {
        "metric": "funnel_docs_per_sec",
        "value": round(n_docs / total, 2),
        "unit": "docs/sec",
        "queries": {"funnel": total},
        "sf": sf,
        "input_docs": n_docs,
        "surviving_docs": row["n"],
        "wall_sec": total,
        "cores": sc_cores,
    }


def run_scaling(
    sf_dir: str, n_small: int = 8, n_large: int = 32, replicate: int = 8,
    repeats: int = 2, funnel: bool = False,
) -> dict:
    """Sandbox stand-in for N vs 4N executors (BASELINE.md protocol):
    identical job, identical (replicated) input, local[N] vs local[4N],
    fresh JVM each. Replication makes the run compute-bound so the
    measurement reflects the shuffle-heavy stages, not session startup;
    min-of-repeats tames the sandbox's large run-to-run variance."""
    results = {}
    for cores in (n_small, n_large):
        best = None
        for _ in range(repeats):
            cmd = [sys.executable, __file__, "--cores", str(cores),
                   "--sf-dir", sf_dir, "--replicate", str(replicate), "--fast"]
            if funnel:
                cmd.append("--funnel")
            proc = subprocess.run(
                cmd, capture_output=True, text=True, check=True,
            )
            line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
            run = json.loads(line)
            if best is None or run["wall_sec"] < best["wall_sec"]:
                best = run
        results[cores] = best
    t_small = results[n_small]["wall_sec"]
    t_large = results[n_large]["wall_sec"]
    ratio = n_large / n_small
    efficiency = t_small / (ratio * t_large)  # == tput(4N) / (4 * tput(N))
    phase_eff = {}
    for ph in ("build_cc", "edges_dag", "funnel"):
        a = results[n_small]["queries"].get(ph)
        b = results[n_large]["queries"].get(ph)
        if a and b:
            phase_eff[ph] = round(a / (ratio * b), 3)
    return {
        "metric": "funnel_scaling_efficiency" if funnel else "scaling_efficiency",
        "value": round(efficiency, 3),
        "unit": f"throughput({n_large})/( {ratio:.0f} * throughput({n_small}) )",
        "sf": results[n_large]["sf"],
        "phase_efficiency": phase_eff,
        "runs": {str(k): v for k, v in results.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument(
        "--replicate", type=int, default=None,
        help="corpus replication factor (default 1; with --scaling 8, "
        "or 16 with --scaling --funnel, the recorded funnel protocol)",
    )
    ap.add_argument("--n-small", type=int, default=8)
    ap.add_argument("--n-large", type=int, default=32)
    ap.add_argument("--fast", action="store_true")
    ap.add_argument(
        "--funnel", action="store_true",
        help="bench the curation-funnel core instead of the KG DAG",
    )
    args = ap.parse_args()

    if args.scaling:
        print(json.dumps(run_scaling(
            args.sf_dir, args.n_small, args.n_large,
            args.replicate or (16 if args.funnel else 8),
            funnel=args.funnel)))
    elif args.funnel:
        print(json.dumps(run_funnel_bench(
            args.sf_dir, args.cores, args.replicate or 1, args.fast)))
    else:
        print(json.dumps(run_bench(
            args.sf_dir, args.cores, args.replicate or 1, args.fast)))


if __name__ == "__main__":
    main()
