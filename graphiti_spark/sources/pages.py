"""The Common-Crawl-style `pages` input table (BASELINE.json input_hint:
url string, warc_ts timestamp, html binary, text string, lang string).

At production scale this is an Iceberg/parquet table scan
(`spark.read.format('iceberg').load('pages')`); in this sandbox the table
is derived deterministically from the driver-generated
`documents.parquet` (FIXTURES.md §1):

  url     = 'https://ex.test/' || doc_id
  warc_ts = TIMESTAMP '2024-01-01 00:00:00' + doc_id minutes
  html    = minimal markup wrapping `text` (boilerplate nav + footer)
  group_id = source  (graph partition key, reference `group_id`)

The html column exists so the trafilatura-style extraction stage (E10) has
real work to do; the per-row invariant is that extract_text(html) is
byte-identical to the original `text` per url.

Reference mapping: one page row = one EpisodicNode
(/root/reference/graphiti_core/nodes.py:295-432); `warc_ts` = episode
`valid_at` (reference time of the source document, nodes.py:299-301).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from graphiti_spark import ids
from graphiti_spark.schemas import DOCUMENTS_SCHEMA
from graphiti_spark.textnorm import extract_text_udf, wrap_html

# warc_ts derivation base (FIXTURES.md §1)
CRAWL_EPOCH = "2024-01-01 00:00:00"
URL_PREFIX = "https://ex.test/"

# SQL fragments reused by the DuckDB oracle (keep in lockstep with load_pages).
SQL_URL = f"'{URL_PREFIX}' || CAST(doc_id AS VARCHAR)"
SQL_WARC_TS = (
    f"TIMESTAMP '{CRAWL_EPOCH}' + CAST(doc_id AS INT) * INTERVAL 1 MINUTE"
)


@F.pandas_udf(BinaryType())
def _wrap_html_udf(doc_id: pd.Series, text: pd.Series) -> pd.Series:
    # vectorized twin of wrap_html (asserted equal in test_textnorm):
    # html.escape's five entities via ordered str.replace chains ('&'
    # first), then one vectorized concat — no per-row apply
    esc = (
        text.str.replace("&", "&amp;", regex=False)
        .str.replace("<", "&lt;", regex=False)
        .str.replace(">", "&gt;", regex=False)
        .str.replace('"', "&quot;", regex=False)
        .str.replace("'", "&#x27;", regex=False)
    )
    s = (
        "<html><head><title>doc "
        + doc_id.astype("int64").astype(str)
        + "</title></head><body><nav>site navigation</nav><p>"
        + esc
        + "</p><footer>crawl footer</footer></body></html>"
    )
    return s.str.encode("utf-8")


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet with its known schema: a schema-less read
    starts a Spark job to read the file footers on every load."""
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(
        f"{sf_dir}/documents.parquet"
    )


def load_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages(url, warc_ts, html, text, lang, group_id).

    The returned `text` column is the EXTRACTED text (html → extract_text),
    not the raw documents.text — so every downstream consumer exercises the
    extraction stage and the byte-identity invariant is load-bearing.

    The raw docs are spread across the session's parallelism BEFORE the
    CPU-heavy extraction UDFs: a well-compressed corpus file can land in
    one input split, which would serialize the whole chain (and poison
    the episodes cache with a 1-partition layout). The shuffle moves only
    raw text — cheap relative to the UDF work it parallelizes.
    """
    docs = load_documents(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    pages = docs.select(
        F.concat(F.lit(URL_PREFIX), F.col("doc_id").cast("string")).alias("url"),
        (
            F.to_timestamp(F.lit(CRAWL_EPOCH))
            + F.make_interval(mins=F.col("doc_id").cast("int"))
        ).alias("warc_ts"),
        _wrap_html_udf(F.col("doc_id"), F.col("text")).alias("html"),
        F.col("lang"),
        F.col("source").alias("group_id"),
        F.col("doc_id"),
    )
    return pages.withColumn("text", extract_text_udf(F.col("html")))


def pages_to_episodes(pages: DataFrame, run_ts, source="text") -> DataFrame:
    """pages → episodes (EpisodicNode semantics, SURVEY.md S1/S2).

    uuid = sha256(url); valid_at = warc_ts; content = extracted text;
    created_at = the run's fixed transaction timestamp.
    ``source``: EpisodeType name ('message' | 'json' | 'text', reference
    nodes.py:51-84) — a literal for the whole batch, or a Column for
    mixed batches; typed extraction lives in sources/episode_types.py.
    """
    source_col = source if not isinstance(source, str) else F.lit(source)
    return pages.select(
        ids.episode_uuid_col(F.col("url")).alias("uuid"),
        F.col("url").alias("name"),
        F.col("group_id"),
        source_col.alias("source"),
        F.col("lang").alias("source_description"),
        F.col("text").alias("content"),
        F.col("warc_ts").alias("valid_at"),
        F.lit(run_ts).alias("created_at"),
    )
