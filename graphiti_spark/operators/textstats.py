"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

These are the corpus-hygiene operators a 100 TB web-text pipeline runs
before KG construction (the reference assumes clean single-language
episodes; a Common-Crawl-style `pages` table does not get that luxury).
Everything is native column expressions — whole-stage codegen, no UDFs,
no shuffle (pure per-row map over the scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Marker stopwords per language (closed lists → SQL-expressible,
# deterministic; a real deployment swaps in fastText-style n-gram LM
# scores behind the same column contract).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "les", "et", "des", "un", "une", "est", "que", "dans"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que", "en"),
}
ENGLISH_STOPWORDS = LANG_MARKERS["en"]

# BPE-ish pre-tokenization: letter runs | digit runs | single non-space
# symbol (the GPT-2 pre-tokenizer family, minus byte fallback).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

FINGERPRINT_GRAM = 5  # tokens per fingerprint k-gram


def _tokens(text_col):
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def _lang_best(text_col):
    """(hits, lang) struct of the argmax language — the shared
    expression behind language_id and the streaming monitor."""
    toks = _tokens(text_col)
    scores = [
        F.struct(
            F.size(F.filter(toks, lambda t: t.isin(*markers))).alias("hits"),
            # negative-ord trick: argmax prefers HIGH hits then LOW code;
            # invert code ordering by storing it negated via map lookup
            F.lit(code).alias("lang"),
        )
        for code, markers in sorted(LANG_MARKERS.items())
    ]
    # greatest(struct) picks max hits; ties → max lang code. For a
    # deterministic LOW-code tie-break, compare pairwise in order.
    best = scores[0]
    for s in scores[1:]:
        best = F.when(s["hits"] > best["hits"], s).otherwise(best)
    return best


def _lang_of(best):
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def pred_lang_col(text_col):
    """Per-row predicted language code ('und' on zero marker hits) — the
    expression behind language_id, the curation gate and the streaming
    monitor."""
    return _lang_of(_lang_best(text_col))


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-word language ID: per-language marker hit count over the
    token stream, argmax with deterministic tie-break (lexicographic
    language code); zero hits → 'und'. Output (id, pred_lang, n_hits)."""
    best = _lang_best(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("id"),
        _lang_of(best).alias("pred_lang"),
        best["hits"].cast("long").alias("n_hits"),
    )


def token_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish pre-tokens, chars.
    Output (id, n_ws_tokens, n_bpe_tokens, n_chars)."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(F.filter(_tokens(t), lambda x: x != "")).cast("long").alias(
            "n_ws_tokens"
        ),
        F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars"),
    )


def _quality_features(text_col) -> dict:
    """The four ratio features, built ONCE — quality_score (display
    columns + score) and quality_score_col (streaming monitor) derive
    from this single source so they can never desynchronize."""
    t = text_col
    toks = F.filter(_tokens(t), lambda x: x != "")
    n = F.size(toks).cast("double")
    mean_len = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x)) / n,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n > 0,
        F.size(F.filter(toks, lambda x: x.isin(*ENGLISH_STOPWORDS))) / n,
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        F.length(t) > 0,
        F.length(F.regexp_replace(F.lower(t), r"[^a-z ]", "")).cast("double")
        / F.length(t),
    ).otherwise(F.lit(0.0))
    distinct_ratio = F.when(
        n > 0, F.size(F.array_distinct(toks)) / n
    ).otherwise(F.lit(0.0))
    return {
        "n": n,
        "mean_len": mean_len,
        "stop_ratio": stop_ratio,
        "alpha_ratio": alpha_ratio,
        "distinct_ratio": distinct_ratio,
    }


def _quality_gates(f: dict):
    return F.round(
        F.when(
            (f["mean_len"] >= 3.0) & (f["mean_len"] <= 10.0), 0.25
        ).otherwise(0.0)
        + F.when(f["stop_ratio"] >= 0.01, 0.25).otherwise(0.0)
        + F.when(f["alpha_ratio"] >= 0.8, 0.25).otherwise(0.0)
        + F.when(f["distinct_ratio"] >= 0.2, 0.25).otherwise(0.0),
        4,
    )


def quality_score_col(text_col):
    """Per-row composite quality score (the four 0.25 gates, rounded
    4 dp) — the shared expression behind quality_score, the curation
    gate and the streaming monitor. Same arithmetic as the docs_quality
    oracle."""
    return _quality_gates(_quality_features(text_col))


def quality_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic document quality (Gopher/C4-style ratio rules, closed
    deterministic form):

      mean_token_len   ∈ [3, 10] is prose-like
      stopword_ratio   fraction of tokens in the English stopword list
      alpha_ratio      fraction of chars that are [a-z ]
      distinct_ratio   |distinct tokens| / |tokens| (repetition guard)
      score            0.25·each of four binary gates (rounded 4 dp)

    Output (id, n_tokens, mean_token_len, stopword_ratio, alpha_ratio,
    distinct_ratio, score). Display ratios and the score derive from
    ONE _quality_features build — they cannot desynchronize."""
    f = _quality_features(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("id"),
        f["n"].cast("long").alias("n_tokens"),
        F.round(f["mean_len"], 4).alias("mean_token_len"),
        F.round(f["stop_ratio"], 4).alias("stopword_ratio"),
        F.round(f["alpha_ratio"], 4).alias("alpha_ratio"),
        F.round(f["distinct_ratio"], 4).alias("distinct_ratio"),
        _quality_gates(f).alias("score"),
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_grams: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al.
    2021 §A1.1: repetitious documents are low-quality even when every
    individual line looks fine):

      - ``dup_line_frac``      = (n_lines − n_distinct_lines) / n_lines
      - ``dup_line_char_frac`` = chars in the 2nd+ copies of repeated
        lines / total line chars
      - ``top{n}_char_frac``   = chars covered by the single most
        frequent word n-gram (count × gram length, space-joined,
        capped at 1.0 — overlapping occurrences can overcount) /
        chars of the whitespace-normalized text, for n in ``top_grams``

    All fractions are rounded to 4 dp and 0.0-guarded on empty
    denominators (deterministic across engines; ties for the most
    frequent gram resolve to the lexicographically smallest, so the
    numerator is engine-independent too).

    Scale: two shuffles, both keyed by (doc id, content) pairs —
    uniform, map-side-combinable counts with no hub keys (a gram can
    be hot globally but the key includes the doc id). Everything else
    is per-row array math in whole-stage codegen.
    """
    did = F.col(id_col).alias("id")
    # --- line family -------------------------------------------------
    lines = docs.select(
        did, F.explode(F.split(F.col(text_col), r"\n", -1)).alias("line")
    )
    per_line = lines.groupBy("id", "line").agg(F.count(F.lit(1)).alias("c"))
    line_stats = per_line.groupBy("id").agg(
        F.sum("c").alias("n_lines"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum((F.col("c") - 1) * F.length("line")).alias("dup_chars"),
        F.sum(F.col("c") * F.length("line")).alias("line_chars"),
    )
    # --- top-n-gram family -------------------------------------------
    toks = _tokens(F.col(text_col))
    norm_len = F.length(F.concat_ws(" ", toks))

    def _grams(n: int):
        sz = F.size(toks)
        return F.when(
            sz >= n,
            F.transform(
                F.sequence(F.lit(1), sz - F.lit(n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + k) for k in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    res = docs.select(did, norm_len.alias("norm_len")).join(
        line_stats, "id", "left"
    ).select(
        "id",
        "norm_len",
        F.round(
            (F.col("n_lines") - F.col("n_distinct"))
            / F.col("n_lines").cast("double"),
            4,
        ).alias("dup_line_frac"),
        F.round(
            F.when(F.col("line_chars") > 0,
                   F.col("dup_chars") / F.col("line_chars").cast("double"))
            .otherwise(F.lit(0.0)),
            4,
        ).alias("dup_line_char_frac"),
    )
    # one tagged explode covers every n — a single (id, n, gram) count
    # shuffle + one (id, n) argmax instead of a shuffle chain per n.
    # NB: the tag must close over n via a factory — a two-arg lambda
    # would make F.transform pass the ARRAY INDEX as the second arg.
    def _tag(n: int):
        return F.transform(
            _grams(n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
        )

    tagged = docs.select(
        did,
        F.explode(
            F.flatten(F.array(*[_tag(n) for n in top_grams]))
        ).alias("t"),
    ).select("id", F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    top = (
        tagged.groupBy("id", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id", "n")
        .agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("g").alias("g"))
            ).alias("w")
        )
        .groupBy("id")
        .pivot("n", list(top_grams))
        .agg(F.first((-F.col("w.nc")) * F.length(F.col("w.g"))))
    )
    res = res.join(top, "id", "left")
    for n in top_grams:
        res = res.withColumn(
            f"top{n}_char_frac",
            F.round(
                F.when(
                    (F.col("norm_len") > 0) & F.col(str(n)).isNotNull(),
                    F.least(
                        F.lit(1.0),
                        F.col(str(n)) / F.col("norm_len").cast("double"),
                    ),
                ).otherwise(F.lit(0.0)),
                4,
            ),
        ).drop(str(n))
    return res.drop("norm_len")


def gram_shas(toks, gram: int):
    """sha256 over every ``gram``-token window of ``toks``; empty array
    when the doc is shorter than one window (no partial grams). The
    single tokenization/gram-window contract shared by fingerprinting
    and decontamination — the DuckDB oracles' single-space-split
    equivalence argument depends on this exact expression, so there is
    deliberately one copy of it."""
    n = F.size(toks)
    return F.when(
        n >= gram,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(gram - 1)),
            lambda i: F.sha2(
                F.concat_ws(
                    " ", *[F.element_at(toks, i + k) for k in range(gram)]
                ).cast("binary"),
                256,
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def doc_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    gram: int = FINGERPRINT_GRAM,
) -> DataFrame:
    """Document fingerprinting: full-content hash + a rolling-window
    fingerprint (min sha256 over ``gram``-token windows — the winnowing
    selection rule with window = whole doc; engine-portable because the
    hash is sha256 over the gram text, not a custom rolling polynomial).
    Output (id, content_sha, min_gram_sha)."""
    t = F.col(text_col)
    toks = _tokens(t)
    n = F.size(toks)
    return docs.select(
        F.col(id_col).alias("id"),
        F.sha2(F.trim(F.lower(t)).cast("binary"), 256).alias("content_sha"),
        F.when(n >= gram, F.array_min(gram_shas(toks, gram)))
        .otherwise(F.sha2(F.concat_ws(" ", toks).cast("binary"), 256))
        .alias("min_gram_sha"),
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document: score = tf · ln(N/df)
    with raw term frequency, document frequency over distinct
    (doc, term), and N the corpus size. Output (id, term, score, rank);
    ties break (score desc, term asc) after 4 dp rounding so the cut is
    engine-deterministic.

    Scale shape: one (id, term) count shuffle, one term-keyed df
    aggregation joined back on term (combinable both sides; hot terms
    combine map-side), the 1-row N as a broadcast cross join, and a
    per-doc window for the top-k — partitioned by doc id, so no global
    sort and no skew beyond a single document's vocabulary.

    No reference analogue (SURVEY §2 "beyond the reference" text
    family); standard corpus keyword extraction for dataset exploration
    and per-domain topic profiling.
    """
    from pyspark.sql import Window

    terms = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            (
                F.round(
                    F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
                )
                + F.lit(0.0)
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
