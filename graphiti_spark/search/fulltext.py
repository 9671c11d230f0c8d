"""BM25 fulltext search as derived postings DataFrames (SURVEY.md Q2).

The reference delegates fulltext search to the graph DB's Lucene/BM25
index (`edge_fulltext_search` /root/reference/graphiti_core/search/
search_utils.py:170-282 and siblings; index DDL graph_queries.py:48-127).
A Spark engine has no server-side index: the index IS a DataFrame —
``postings(id, term, tf)`` + per-doc lengths + per-term document
frequencies, all derived once from the corpus and reusable across
queries (the Iceberg-scale equivalent is a materialized postings table,
partition-pruned by group_id).

Scoring is Lucene-style BM25 (k1=1.2, b=0.75,
idf = ln(1 + (N - df + 0.5)/(df + 0.5))) — the same family Lucene's
BM25Similarity implements. Query terms are a tiny broadcast list; the
only shuffles are the postings groupBy (build time) and the final
per-doc score aggregation (query time). Everything is whole-stage
codegen — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75


def tokenize_col(text):
    """Lowercase whitespace tokenization — matches the extraction
    grammar's token stream (and the DuckDB oracle's string_split)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def build_postings(
    corpus: DataFrame, id_col: str, text_col: str
) -> dict[str, DataFrame]:
    """corpus → {postings(id, term, tf), doclen(id, dl), stats(n_docs,
    avgdl), docfreq(term, df)} — the derived inverted index."""
    toks = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize_col(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    postings = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doclen = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    docfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return {
        "postings": postings,
        "doclen": doclen,
        "docfreq": docfreq,
        "stats": stats,
    }


def index_from_postings(postings: DataFrame) -> dict[str, DataFrame]:
    """Rehydrate the full BM25 index from a MATERIALIZED postings table
    (id, term, tf) — doclen, docfreq and corpus stats are all derivable
    aggregates, so graph state persists ONE table per channel and no
    query ever re-tokenizes the corpus (the reference's server-side
    Lucene index, graph_queries.py:48-127, kept as a DataFrame)."""
    doclen = postings.groupBy("id").agg(F.sum("tf").alias("dl"))
    docfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return {
        "postings": postings.select("id", "term", "tf"),
        "doclen": doclen,
        "docfreq": docfreq,
        "stats": stats,
    }


# graph-state fulltext channels — same coverage as the reference's
# fulltext indices (Entity.name+summary, Episodic.content,
# Community.name+summary, RELATES_TO.name+fact; graph_queries.py:48-127)
CHANNEL_TEXT = {
    "edges": ("uuid", ("name", "fact")),
    "nodes": ("uuid", ("name", "summary")),
    "episodes": ("uuid", ("content",)),
    "communities": ("uuid", ("name", "summary")),
}


def build_graph_postings(tables: dict[str, DataFrame]) -> DataFrame:
    """One channel-tagged postings table over every present graph table:
    (channel, group_id, id, term, tf). Built once at materialize time,
    merged incrementally on ingest; queries filter one channel (partition
    pruning) and rehydrate via index_from_postings.

    The channels' token streams are unioned first and counted by one
    aggregate: one shuffle, where a count per channel took one each."""
    toks = []
    for channel, (id_col, text_cols) in CHANNEL_TEXT.items():
        df = tables.get(channel)
        if df is None:
            continue
        text = F.concat_ws(" ", *[F.col(c) for c in text_cols])
        toks.append(df.select(
            F.lit(channel).alias("channel"),
            F.col("group_id"),
            F.col(id_col).alias("id"),
            F.explode(tokenize_col(text)).alias("term"),
        ))
    if not toks:
        raise ValueError("no indexable graph tables present")
    union = toks[0]
    for t in toks[1:]:
        union = union.unionByName(t)
    return (
        union.filter(F.col("term") != "")
        .groupBy("channel", "group_id", "id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def channel_index(
    graph_postings: DataFrame, channel: str
) -> dict[str, DataFrame]:
    """Slice one channel out of the materialized graph postings table and
    rehydrate its BM25 index."""
    return index_from_postings(
        graph_postings.filter(F.col("channel") == channel)
    )


def bm25_search(
    index: dict[str, DataFrame],
    query_terms: list[str],
    limit: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Score docs containing any query term; top-``limit`` by
    (score desc, id asc) with the score rounded to 4 dp BEFORE ranking so
    ordering is reproducible across engines.

    Output: (id, score, rank). The reference over-fetches 2×limit before
    reranking (search.py:206); callers pass 2*limit for that behaviour.
    """
    from graphiti_spark.functions.smalldf import literal_df

    spark = index["postings"].sparkSession
    qterms = literal_df(
        spark,
        [(t.lower(),) for t in sorted(set(query_terms))],
        [("term", "string")],
    )
    # docfreq spans every distinct corpus term (web-scale: 10⁸⁺ tokens) —
    # NEVER broadcast raw. Semi-join it against the tiny query-term frame
    # first; the result is ≤ |query terms| rows (the reference caps
    # queries at 128 terms, search_utils.py:67), and THAT is safe to
    # broadcast into the postings join.
    qdf = index["docfreq"].join(F.broadcast(qterms), "term")
    hits = (
        index["postings"]
        .join(F.broadcast(qdf), "term")
        .join(index["doclen"], "id")
        .crossJoin(F.broadcast(index["stats"]))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    per_term = idf * (tf * F.lit(k1 + 1.0)) / denom
    scored = (
        hits.withColumn("term_score", per_term)
        .groupBy("id")
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
    )
    ranked = scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(limit)
    # post-limit rank: ≤limit rows, a single-partition window is fine
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    return ranked.select("id", "score", F.row_number().over(w).alias("rank"))
