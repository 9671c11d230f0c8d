"""Core table schemas (SURVEY.md §1.5 Spark mapping).

Mirrors the reference's Pydantic data model (graphiti_core/nodes.py:435-440,
graphiti_core/edges.py:221-240) as columnar StructTypes. ``attributes`` is
map<string,string> (JSON-encode non-strings) because Spark maps are
homogeneous, unlike the reference's dict[str, Any].
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The generated corpus file documents.parquet (FIXTURES.md §1). Reading
# it with this schema skips the footer-reading job that schema inference
# starts on every load.
DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)

# Common-Crawl-style input table (BASELINE.json input_hint).
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("group_id", StringType(), False),
    ]
)

# EpisodicNode (reference nodes.py:295-432): one row per source document.
EPISODES_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("name", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("source", StringType(), False),          # message|json|text
        StructField("source_description", StringType(), True),
        StructField("content", StringType(), False),
        StructField("valid_at", TimestampType(), False),
        StructField("created_at", TimestampType(), False),
    ]
)

# EntityNode (reference nodes.py:435-588).
NODES_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("name", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("labels", ArrayType(StringType()), False),
        StructField("created_at", TimestampType(), False),
        StructField("summary", StringType(), True),
        StructField("name_embedding", ArrayType(FloatType()), True),
        StructField("attributes", MapType(StringType(), StringType()), True),
        StructField("mention_count", LongType(), True),
    ]
)

# EntityEdge / RELATES_TO triple (reference edges.py:221-477).
EDGES_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("source_node_uuid", StringType(), False),
        StructField("target_node_uuid", StringType(), False),
        StructField("name", StringType(), False),            # predicate
        StructField("fact", StringType(), False),
        StructField("fact_embedding", ArrayType(FloatType()), True),
        StructField("episodes", ArrayType(StringType()), False),
        StructField("created_at", TimestampType(), False),
        StructField("expired_at", TimestampType(), True),    # transaction time
        StructField("valid_at", TimestampType(), True),      # event time
        StructField("invalid_at", TimestampType(), True),
        StructField("attributes", MapType(StringType(), StringType()), True),
    ]
)

# EpisodicEdge / MENTIONS (reference edges.py:131-218).
MENTIONS_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("episode_uuid", StringType(), False),
        StructField("entity_uuid", StringType(), False),
        StructField("created_at", TimestampType(), False),
    ]
)

# CommunityNode / HAS_MEMBER (reference nodes.py:591-728, edges.py:480-561).
COMMUNITIES_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("name", StringType(), False),
        StructField("group_id", StringType(), False),
        StructField("summary", StringType(), True),
        StructField("created_at", TimestampType(), False),
        StructField("member_count", LongType(), True),
        # reference CommunityNode.name_embedding (nodes.py:591-728) —
        # the vector the community cosine channel ranks on
        StructField("name_embedding", ArrayType(FloatType()), True),
    ]
)
