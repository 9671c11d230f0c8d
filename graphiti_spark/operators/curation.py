"""Corpus-curation operators for training-data pipelines: PII
detection / redaction, benchmark decontamination, token-window
chunking, and ``curate_docs``, the one composition of the curation
funnel.

The reference (peabodyAdmin/graphiti) has no corpus-hygiene layer —
like textstats.py these extend the engine for the 100 TB web-text use
case (SURVEY §2 "beyond the reference" family): a Common-Crawl-style
corpus is scanned for PII before any text leaves the pipeline,
decontaminated against evaluation benchmarks before training, and
chunked into token windows for the training loader.

Scale notes:
  - ``pii_scan`` / ``pii_redact`` / ``chunk_tokens`` are pure per-row
    column expressions — whole-stage codegen, no shuffle, no UDFs.
  - ``decontaminate`` shuffles once (the per-doc hit count); its only
    join is against the benchmark gram set, which is bounded by the
    benchmark suite (MB-scale by construction, NOT the corpus), so the
    broadcast is safe at any corpus size — the one case where a forced
    broadcast is the honest default (``broadcast=False`` opts out).

Every regex below is deliberately restricted to the syntax subset that
Java regex (Spark) and RE2 (DuckDB) evaluate identically: character
classes, bounded repetition, ``\\b`` word boundaries — no lookaround,
no backreferences — so the DuckDB oracles reproduce matches exactly.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# One tokenization + gram-window contract across fingerprinting and
# decontamination — a second copy here would silently desynchronize the
# oracles' single-space-split equivalence argument.
from .textstats import _tokens, gram_shas as _gram_shas

# Detection order matters for redaction: emails first (their domains
# contain dot-runs an IPv4 pattern could half-match), then IPs, then
# phones. Counting re-scans the already-redacted text so a span is
# never attributed to two types.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}-\d{3}-\d{3}-\d{4}\b",
}

DECONTAM_GRAM = 13  # GPT-3-style 13-gram exact-overlap rule


def pii_scan(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-type PII match counts. Output (id, n_email, n_ipv4,
    n_phone, n_pii). Spans already consumed by an earlier type are not
    re-counted by a later one (same masking order as ``pii_redact``,
    so scan counts always equal redaction counts)."""
    masked = F.col(text_col)
    cols = [F.col(id_col).alias("id")]
    total = F.lit(0).cast("long")
    for name, pat in PII_PATTERNS.items():
        c = F.size(F.regexp_extract_all(masked, F.lit(pat), F.lit(0))).cast(
            "long"
        )
        cols.append(c.alias(f"n_{name}"))
        total = total + c
        masked = F.regexp_replace(masked, pat, f"<{name.upper()}>")
    cols.append(total.alias("n_pii"))
    return docs.select(*cols)


def pii_redact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Replace every PII span with its type tag (``<EMAIL>`` /
    ``<IPV4>`` / ``<PHONE>``). Output (id, redacted, n_redacted)."""
    red = F.col(text_col)
    n = F.lit(0).cast("long")
    for name, pat in PII_PATTERNS.items():
        n = n + F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0))).cast(
            "long"
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return docs.select(
        F.col(id_col).alias("id"),
        red.alias("redacted"),
        n.alias("n_redacted"),
    )




def benchmark_grams(
    benchmark: DataFrame,
    text_col: str = "text",
    gram: int = DECONTAM_GRAM,
) -> DataFrame:
    """Distinct sha256 gram-window hashes of the benchmark suite.
    Output (gram_sha) — build once per benchmark release and reuse
    across corpus sweeps."""
    return (
        benchmark.select(
            F.explode(_gram_shas(_tokens(F.col(text_col)), gram)).alias(
                "gram_sha"
            )
        )
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram: int = DECONTAM_GRAM,
    broadcast: bool = True,
) -> DataFrame:
    """GPT-3-style benchmark decontamination: a document is
    contaminated when any of its ``gram``-token windows appears
    verbatim in the benchmark suite. Output (id, n_contaminated_grams,
    contaminated).

    The exploded doc-gram stream is corpus-sized (≈ one row per
    token), but it never shuffles: the benchmark-gram join is a
    broadcast hash join and the per-doc count is map-side combinable,
    so the only full shuffle is |docs| rows of (id, count)."""
    bg = benchmark_grams(benchmark, text_col, gram)
    if broadcast:
        bg = F.broadcast(bg)
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_gram_shas(_tokens(F.col(text_col)), gram)).alias(
            "gram_sha"
        ),
    )
    hits = (
        doc_grams.join(bg, "gram_sha")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce(
                F.col("n_contaminated_grams"), F.lit(0).cast("long")
            ).alias("n_contaminated_grams"),
            (F.coalesce(F.col("n_contaminated_grams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def dedup_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """C4/CCNet-style corpus-level line dedup: each distinct normalized
    (trim+lower) line survives only at its FIRST occurrence — minimal
    (doc id, line position) across the whole corpus; later copies
    (boilerplate, nav bars, cookie banners) are dropped and docs are
    reassembled from their surviving lines in original order.

    Scale: the first-occurrence winner per line is a map-side-combinable
    ``min(struct(doc, idx))`` keyed by the line hash, so hot boilerplate
    lines partially aggregate before the shuffle — no hub reducer; the
    keep join is keyed by the (hash, doc, idx) triple, unique per input
    line, so no shuffle key carries more than one row per occurrence.
    Output (id, text_dedup, n_kept, n_dropped)."""
    # F.split takes a REGEX but concat_ws rejoins with the literal —
    # escape so separators like "." or "|" split literally too.
    sep_pat = re.escape(line_sep)
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep_pat, -1)).alias(
            "idx", "line"
        ),
    ).withColumn(
        "lh", F.sha2(F.trim(F.lower(F.col("line"))).cast("binary"), 256)
    )
    winners = lines.groupBy("lh").agg(
        F.min(F.struct(F.col("id"), F.col("idx"))).alias("w")
    )
    kept = lines.join(
        winners.select(
            "lh", F.col("w.id").alias("id"), F.col("w.idx").alias("idx")
        ),
        ["lh", "id", "idx"],
    )
    agg = (
        kept.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("idx"), F.col("line")))
            ).alias("ls")
        )
        .select(
            "id",
            F.concat_ws(
                line_sep, F.transform(F.col("ls"), lambda s: s["line"])
            ).alias("text_dedup"),
            F.size(F.col("ls")).cast("long").alias("n_kept"),
        )
    )
    totals = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), sep_pat, -1))
        .cast("long")
        .alias("n_total"),
    )
    return totals.join(agg, "id", "left").select(
        "id",
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        (F.col("n_total") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )


def chunk_tokens(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Token-window chunking for training loaders: windows of ``size``
    tokens stepping by ``size - overlap``, final window truncated at
    the doc end. A window is emitted only if it contributes at least
    one token not covered by its predecessor (starts stop at
    ``n - overlap``), so the chunk set covers every token exactly and
    carries no fully-redundant tail. Output (id, chunk_idx,
    start_token, n_tokens, chunk_text) — per-row map, no shuffle; the
    chunk grid is a pure function of the token count."""
    if not 0 <= overlap < size:
        raise ValueError("require 0 <= overlap < size")
    stride = size - overlap
    toks_col = _tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("id"), toks_col.alias("toks"))
    n = F.size(F.col("toks"))
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    return base.select(
        "id", "toks", F.explode(starts).alias("start_token")
    ).select(
        "id",
        ((F.col("start_token") - 1) / F.lit(stride))
        .cast("int")
        .alias("chunk_idx"),
        F.col("start_token").cast("int").alias("start_token"),
        F.least(
            F.lit(size), F.size(F.col("toks")) - F.col("start_token") + 1
        )
        .cast("long")
        .alias("n_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("start_token"), F.lit(size))
        ).alias("chunk_text"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_size: int = 4096,
) -> DataFrame:
    """Concat-and-chunk sequence packing for pretraining loaders: the
    corpus's token streams, concatenated in ascending id order, are cut
    into fixed ``seq_len``-token training sequences; a document may
    straddle a boundary, so the output is one row per (sequence,
    document) overlap segment.

    The global running token offset is the scale trap here: a bare
    ``Window.orderBy(id)`` funnels the corpus through ONE partition. The
    distributed form is the classic two-pass prefix sum — a
    hash-partitioned within-bucket cumsum (bucket = id // bucket_size)
    plus a bucket-level prefix over the AGGREGATED frame (|buckets|
    rows — the only single-partition window, bounded by corpus /
    bucket_size, ~25 M rows at 100 TB-scale doc counts, itself
    bucketable again if ever needed) broadcast back. Everything else is
    codegen arithmetic + one explode over the sequences each doc covers.

    Tokens = non-empty whitespace tokens of lower(trim(text)) — the
    n_ws_tokens convention (textstats.token_stats). Empty docs occupy no
    positions and emit no rows. The final sequence may be partial;
    ``seq_n_tokens`` lets loaders drop or pad it. Ids must be numeric
    (the bucket arithmetic and the packing order both use them); hash a
    string id into a dense long upstream if needed.

    Output: (seq_id, id, doc_token_start, seq_token_start, n_tokens,
    seq_n_tokens) — doc ``id`` contributes tokens [doc_token_start,
    doc_token_start + n_tokens) at offset seq_token_start of sequence
    seq_id.
    """
    from pyspark.sql import Window

    counts = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.filter(_tokens(F.col(text_col)), lambda x: x != ""))
        .cast("long")
        .alias("n_toks"),
        (F.col(id_col).cast("long") / F.lit(bucket_size))
        .cast("long")
        .alias("bucket"),
    ).filter(F.col("n_toks") > 0)

    wb = Window.partitionBy("bucket").orderBy("id")
    in_bucket = counts.withColumn(
        "cum_in_bucket", F.sum("n_toks").over(wb)
    )
    totals = counts.groupBy("bucket").agg(F.sum("n_toks").alias("btot"))
    wt = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("btot").over(wt), F.lit(0)).alias("boff")
    )
    placed = in_bucket.join(F.broadcast(offsets), "bucket").select(
        "id",
        "n_toks",
        (F.col("boff") + F.col("cum_in_bucket") - F.col("n_toks")).alias(
            "start"
        ),
        (F.col("boff") + F.col("cum_in_bucket")).alias("end"),
    )

    L = F.lit(int(seq_len)).cast("long")
    total = placed.agg(F.max("end").alias("t"))
    segs = placed.withColumn(
        "seq_id",
        F.explode(
            F.sequence(
                (F.col("start") / L).cast("long"),
                ((F.col("end") - 1) / L).cast("long"),
            )
        ),
    ).select(
        "seq_id",
        "id",
        F.greatest(F.col("start"), F.col("seq_id") * L).alias("g0"),
        F.least(F.col("end"), (F.col("seq_id") + 1) * L).alias("g1"),
        "start",
    )
    return (
        segs.crossJoin(F.broadcast(total))
        .select(
            F.col("seq_id").cast("long").alias("seq_id"),
            "id",
            (F.col("g0") - F.col("start")).cast("long").alias(
                "doc_token_start"
            ),
            (F.col("g0") - F.col("seq_id") * L).cast("long").alias(
                "seq_token_start"
            ),
            (F.col("g1") - F.col("g0")).cast("long").alias("n_tokens"),
            F.least(
                L, F.col("t") - F.col("seq_id") * L
            ).cast("long").alias("seq_n_tokens"),
        )
    )


def strip_host_boilerplate(
    docs: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_pages: int = 3,
    frac: float = 0.5,
    line_sep: str = "\n",
) -> DataFrame:
    """Host-scoped boilerplate removal: drop every line that appears on
    at least ``frac`` of a host's pages (hosts with ≥ ``min_pages``
    pages only). This is the nav-bar / footer / cookie-banner cut that
    corpus-GLOBAL line dedup (``dedup_lines``) cannot express: here ALL
    copies go (including the first — boilerplate has no canonical
    occurrence), and an identical line on a small host survives because
    the evidence threshold is per-host.

    Scale: the line-frequency table is a distinct + map-side-combinable
    count keyed by (host, line-hash); the boilerplate set is bounded by
    over-threshold (host, line) pairs, and the removal is a left-anti
    join on the same key — one row per key on the build side, so hub
    hosts fan out but never hot-reduce. The ``frac·n_pages`` threshold
    multiplies a double by an exact integer — bit-identical across
    engines.

    Output (id, host, text_clean, n_kept, n_dropped)."""
    sep_pat = re.escape(line_sep)
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(host_col).alias("host"),
        F.col(text_col).alias("text"),
    )
    lines = base.select(
        "id",
        "host",
        F.posexplode(F.split(F.col("text"), sep_pat, -1)).alias(
            "idx", "line"
        ),
    ).withColumn(
        "lh", F.sha2(F.trim(F.lower(F.col("line"))).cast("binary"), 256)
    )
    host_pages = base.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages")
    )
    line_df = (
        lines.select("host", "lh", "id")
        .distinct()
        .groupBy("host", "lh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    boiler = (
        line_df.join(host_pages, "host")
        .filter(
            (F.col("n_pages") >= F.lit(int(min_pages)))
            & (F.col("n_docs") >= F.lit(float(frac)) * F.col("n_pages"))
        )
        .select("host", "lh")
    )
    kept = lines.join(boiler, ["host", "lh"], "left_anti")
    agg = (
        kept.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("idx"), F.col("line")))
            ).alias("ls")
        )
        .select(
            "id",
            F.concat_ws(
                line_sep, F.transform(F.col("ls"), lambda s: s["line"])
            ).alias("text_clean"),
            F.size(F.col("ls")).cast("long").alias("n_kept"),
        )
    )
    totals = base.select(
        "id",
        "host",
        F.size(F.split(F.col("text"), sep_pat, -1)).cast("long").alias(
            "n_total"
        ),
    )
    return totals.join(agg, "id", "left").select(
        "id",
        "host",
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        (F.col("n_total") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.45,
    broadcast: bool = True,
) -> DataFrame:
    """Embedding-level benchmark decontamination: a document is flagged
    when its embedding's cosine against ANY benchmark embedding reaches
    ``threshold`` — the semantic complement of the exact 13-gram rule
    (``decontaminate``), catching paraphrased/reworded eval leakage
    that verbatim n-grams miss. Output one row per corpus doc:
    (id, max_benchmark_cos, n_matches, contaminated, checked).

    ``checked`` is False for a corpus doc whose OWN embedding is NULL —
    such a doc was never actually compared, and for a contamination
    gate "silently passes as clean" is the unsafe default (ADVICE r4).
    Unchecked rows carry NULL max_benchmark_cos/n_matches/contaminated
    so callers can quarantine them explicitly instead of mistaking
    them for verified-clean.

    Scale shape: the benchmark suite is bounded by the EVAL SETS, not
    the corpus, so its vectors broadcast; the corpus makes ONE pass
    (broadcast nested-loop + map-side-combinable max/count per doc —
    no shuffle wider than |corpus| rows of (id, max, count)). Both
    norms are projected ONCE per side before the cross join (the same
    left-to-right double fold as functions.embed.cosine_col, so the
    quotient is bit-identical to computing them inline), cosines round
    to 4 dp BEFORE the threshold compare and the max (house rules).
    An EMPTY benchmark frame returns every corpus doc clean (max 0.0,
    0 matches) — the per-doc contract holds; don't mistake it for a
    run that checked something."""

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    a = corpus.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).cast("array<double>").alias("av"),
    ).withColumn("an", F.sqrt(dot(F.col("av"), F.col("av"))))
    b = benchmark.select(
        F.col(emb_col).cast("array<double>").alias("bv")
    ).withColumn("bn", F.sqrt(dot(F.col("bv"), F.col("bv"))))
    if broadcast:
        b = F.broadcast(b)

    cos = F.when(F.col("bv").isNull(), F.lit(None).cast("double")).otherwise(
        F.round(
            F.when(
                (F.col("an") == 0.0) | (F.col("bn") == 0.0), F.lit(0.0)
            ).otherwise(
                dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
            ),
            4,
        )
        + F.lit(0.0)
    )
    # LEFT outer against the broadcast benchmark: an empty suite keeps
    # one (null-cos) row per corpus doc instead of erasing the corpus —
    # still ONE pass, no corpus-keyed join back
    scored = a.join(b, F.lit(True), "left").select(
        "id", cos.alias("cos"), F.col("av").isNotNull().alias("_ok")
    )
    agg = scored.groupBy("id").agg(
        F.coalesce(F.max("cos") + F.lit(0.0), F.lit(0.0)).alias("_mx"),
        F.sum(F.when(F.col("cos") >= threshold, 1).otherwise(0))
        .cast("long")
        .alias("_nm"),
        F.max("_ok").alias("checked"),
    )
    return agg.select(
        "id",
        F.when(F.col("checked"), F.col("_mx")).alias("max_benchmark_cos"),
        F.when(F.col("checked"), F.col("_nm")).alias("n_matches"),
        F.when(F.col("checked"), F.col("_nm") > 0).alias("contaminated"),
        "checked",
    )


@dataclass
class Curation:
    """What ``curate_docs`` returns, all lazy. ``docs``: the survivors
    with text, the gate columns and the sampling draw u. ``stages``:
    each stage that ran, in order, to a frame whose row count is its
    survivor count. Recall-loss frames (None when the stage is off):
    capped LSH buckets, capped IVF cells (cell, cell_n), and the docs
    SemDeDup had no embedding for."""

    docs: DataFrame
    stages: dict[str, DataFrame]
    dropped_lsh_buckets: DataFrame
    dropped_ivf_cells: DataFrame | None = None
    semantic_uncovered: DataFrame | None = None

    def counts(self) -> dict[str, int]:
        """Each stage's survivor count plus the recall-loss counts
        (dropped_lsh_buckets; with SemDeDup semantic_uncovered_docs,
        dropped_ivf_cells, dropped_ivf_rows) from one query, not one
        count job per frame."""
        parts = {**self.stages, "dropped_lsh_buckets": self.dropped_lsh_buckets}
        if self.semantic_uncovered is not None:
            cells = self.dropped_ivf_cells
            parts.update(
                semantic_uncovered_docs=self.semantic_uncovered,
                dropped_ivf_cells=cells,
                dropped_ivf_rows=cells,
            )
        rows = reduce(DataFrame.union, [
            df.select(
                F.lit(k).alias("k"),
                (F.col("cell_n") if k == "dropped_ivf_rows" else F.lit(1)).alias("n"),
            )
            for k, df in parts.items()
            if df is not None
        ])
        got = dict(rows.groupBy("k").agg(F.sum("n")).collect())
        return {k: got.get(k, 0) for k in parts}


def _canonical(canon: DataFrame) -> DataFrame:
    """The (doc_id) rows an (id, canonical_id) frame keeps."""
    return canon.filter(F.col("id") == F.col("canonical_id")).select(
        F.col("id").alias("doc_id")
    )


def _rewritten(d: DataFrame, rewrite: DataFrame) -> DataFrame:
    """``d`` with its text replaced by a rewrite stage's (id,
    text_dedup); docs the rewrite emptied drop out. Checkpointed with
    the text: a rewrite is costlier than a scan and is read ~3× below."""
    text = rewrite.select(
        F.col("id").alias("doc_id"), F.col("text_dedup").alias("text")
    )
    return (
        d.drop("text")
        .join(text, "doc_id")
        .filter(F.length("text") > 0)
        .localCheckpoint()
    )


def curate_docs(
    docs: DataFrame,
    near_dup_threshold: float = 0.95,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.9,
    semantic_n_cells: int = 16,
    semantic_max_cell: int | None = None,
    span_k: int = 0,
    langs: tuple = ("en", "und"),
    min_quality: float = 0.25,
    max_dup_line_frac: float | None = None,
    max_top2_frac: float | None = None,
    ppl_keep: float = 1.0,
    ppl_ref: DataFrame | None = None,
    benchmark: DataFrame | None = None,
    sample_rate: float = 0.5,
    sample_seed: str = "curate",
) -> Curation:
    """The web-text curation funnel over (doc_id, text) docs, composed
    once for the oracle, the bench and jobs/curate_corpus.py. Each stage
    consumes the previous one's survivors; optional stages are off at
    the defaults:

      1. exact dedup — the canonical copy survives
      2. MinHash near-dup pairs → connected-component canonicals
      3. SemDeDup over ``embeddings`` (vec_id, embedding), IVF cells
         capped at ``semantic_max_cell`` (None = no cap)
      4. C4 corpus line dedup (rewrites the text)
      5. exact-substring span dedup of ≥ ``span_k`` tokens (0 = off)
      6. language + quality gates, two per-row columns computed in one
         projection; the repetition gate when a
         ``max_dup_line_frac`` / ``max_top2_frac`` cap is set
      7. perplexity gate keeping the ``ppl_keep`` fraction (1.0 = off)
         with the lowest bigram-LM perplexity; the LM trains on
         ``ppl_ref`` (a text column) or on the survivors
      8. decontamination against ``benchmark`` (a text column)
      9. deterministic sample, u < ``sample_rate``

    Stage boundaries localCheckpoint survivor-ID sets: each dedup stage
    reads its input 3-4×, so uncut composition nests the upstream plan
    multiplicatively (a 542 MB plan string at sf0.001), and text-sized
    cuts at every boundary wrote the corpus to local disk 3× (~90 s of
    non-scaling IO per 4-core leg). With an id set, each downstream
    read embeds one scan + join, never the upstream pipeline. Only the
    text rewrites (4, 5) and the perplexity gate's input, which the LM
    reads ~6×, are cut with their text."""
    from graphiti_spark.operators.dedup_docs import (
        canonical_docs,
        drop_dup_spans,
        exact_dedup,
        minhash_near_dup,
        semantic_dedup_docs,
    )
    from graphiti_spark.operators.lm import perplexity, train_bigram_lm
    from graphiti_spark.operators.sampling import (
        filter_by_quantile,
        sample_fraction,
    )
    from graphiti_spark.operators.textstats import (
        pred_lang_col,
        quality_score_col,
        repetition_stats,
    )

    stages = {"input_docs": docs}

    def keep(stage: str, d: DataFrame, ids: DataFrame) -> DataFrame:
        ids = ids.localCheckpoint()
        stages[stage] = ids
        return d.join(ids, "doc_id")

    # Until the text is rewritten (step 4) each survivor-id set is a
    # subset of the one before, so it joins straight onto ``docs``: the
    # same rows as a chain of joins through every earlier stage.
    # 1. exact dedup
    d = keep("after_exact_dedup", docs, _canonical(exact_dedup(docs)))

    # 2. near-dup canonicals over the survivors; capped LSH buckets
    # lose recall, so their frame is returned
    lsh_sink: list = []
    pairs = minhash_near_dup(
        d, threshold=near_dup_threshold, mode="word", dropped_sink=lsh_sink
    )
    d = keep("after_near_dup", docs, _canonical(canonical_docs(d, pairs)))

    # 3. SemDeDup (Abbas et al. 2023): capped cells and the docs with no
    # embedding are returned, never silent
    ivf_sink: list = []
    uncovered = None
    if embeddings is not None:
        kept, uncovered = semantic_dedup_docs(
            d,
            embeddings,
            n_cells=semantic_n_cells,
            threshold=semantic_threshold,
            max_cell=semantic_max_cell,
            dropped_sink=ivf_sink,
        )
        d = keep("after_semantic_dedup", docs, kept.select("doc_id"))

    # 4. corpus-level line dedup
    d = _rewritten(d, dedup_lines(d))
    stages["after_line_dedup"] = d

    # 5. span dedup (Lee et al. ExactSubstr): every corpus-duplicated
    # run of >= span_k tokens goes, all copies, from the line-deduped text
    if span_k:
        d = _rewritten(d, drop_dup_spans(d, k=span_k))
        stages["after_span_dedup"] = d

    # 6. gates over the REWRITTEN text: per-row columns, so one
    # projection of d, never a join of d against itself
    gated = d.select(
        "*",
        pred_lang_col(F.col("text")).alias("pred_lang"),
        quality_score_col(F.col("text")).alias("quality"),
    )
    caps = {"dup_line_frac": max_dup_line_frac, "top2_char_frac": max_top2_frac}
    if any(cap is not None for cap in caps.values()):
        # id-sized checkpoint: the lazy repetition plan would push the
        # gate stage's plan string past the 100 k render cap
        rep = repetition_stats(d).select(F.col("id").alias("doc_id"), *caps)
        gated = gated.join(rep.localCheckpoint(), "doc_id")
    d = gated.filter(F.col("pred_lang").isin(*langs)).filter(
        F.col("quality") >= min_quality
    )
    for col, cap in caps.items():
        if cap is not None:
            d = d.filter(F.col(col) <= cap)
    stages["after_quality_gates"] = d

    # 7. perplexity gate. The LM stage reads its input ~6× (model
    # bigrams / prefixes / vocab, the scoring stream, the join back),
    # so the input is checkpointed with its text. Tied (rounded) scores
    # gate as a block (filter_by_quantile), so the cut is
    # order-deterministic; docs with < 2 tokens have no score and pass.
    if ppl_keep < 1.0:
        d = d.localCheckpoint()
        ref = d
        if ppl_ref is not None:
            ref = ppl_ref.select(
                "text", F.monotonically_increasing_id().alias("doc_id")
            )
        ppl = perplexity(d, train_bigram_lm(ref)).select(
            F.col("id").alias("doc_id"), "ppl"
        )
        scored = ppl.filter(F.col("ppl").isNotNull())
        gated = filter_by_quantile(
            scored.withColumn("neg_ppl", -F.col("ppl")),
            q=1.0 - ppl_keep,
            score_col="neg_ppl",
            id_col="doc_id",
        )
        unscored = ppl.filter(F.col("ppl").isNull())
        ids = gated.select("doc_id").union(unscored.select("doc_id"))
        d = keep("after_perplexity_gate", d, ids)

    # 8. benchmark decontamination
    if benchmark is not None:
        dec = decontaminate(d, benchmark)
        clean = dec.filter(~F.col("contaminated"))
        d = keep(
            "after_decontamination", d, clean.select(F.col("id").alias("doc_id"))
        )

    # 9. deterministic sample; at rate 1 it keeps every doc (u < 1)
    d = sample_fraction(d, sample_rate, seed=sample_seed)
    if sample_rate < 1.0:
        stages["after_sampling"] = d
    ivf_cells = ivf_sink[0] if ivf_sink else None
    return Curation(d, stages, lsh_sink[0], ivf_cells, uncovered)


def curation_funnel(
    docs: DataFrame,
    near_dup_threshold: float = 0.95,
    langs: tuple = ("en", "und"),
    min_quality: float = 0.25,
    sample_rate: float = 0.5,
    sample_seed: str = "curate",
) -> DataFrame:
    """The oracle projection of ``curate_docs`` with its optional stages
    off: exact dedup → MinHash near-dup canonicals → C4 line dedup →
    language + quality gates → deterministic sample. Each stage is
    individually hash-verified elsewhere; this entry hash-proves their
    COMPOSITION (each stage consuming the previous survivors, the
    rewritten text flowing into the gates and the final content sha).

    Output per surviving doc: (doc_id, content_sha = sha256 of the
    line-deduped text, pred_lang, quality, u — the sampling draw)."""
    d = curate_docs(
        docs, near_dup_threshold, langs=langs, min_quality=min_quality,
        sample_rate=sample_rate, sample_seed=sample_seed,
    ).docs
    return d.select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("content_sha"),
        "pred_lang",
        "quality",
        "u",
    )
