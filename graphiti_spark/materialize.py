"""Graph materialization sinks (SURVEY.md S6–S8).

Reference persistence is MERGE-upsert Cypher per node/edge or UNWIND
bulk upsert (graphiti_core/utils/bulk_utils.py:128-251, Cypher in
models/nodes/node_db_queries.py:94-101). The Spark-native equivalent is
a partitioned table write:

  - tables partitioned by ``group_id`` (the reference's graph partition
    key — FalkorDB gives each group its own database; here it's
    partition pruning, graphiti.py:698-701);
  - upsert = idempotent overwrite by deterministic uuid: with
    content-derived ids, re-running a batch produces identical rows, so
    ``MERGE ON uuid`` degenerates to dynamic-partition overwrite. On an
    Iceberg catalog this becomes ``MERGE INTO t USING u ON t.uuid =
    u.uuid WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *``
    (upsert_sql below emits exactly that statement);
  - the S8 "index DDL" equivalent: sort-within-partitions by uuid on
    write, giving parquet min/max uuid skipping for S5 point lookups.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from graphiti_spark.session import job_description

GRAPH_TABLES = (
    "nodes",
    "edges",
    "mention_edges",
    "episodes",
    "communities",
    # community membership edges (reference HAS_MEMBER) — consumed and
    # maintained by the incremental ingest's G4 community update
    "has_member",
    # resolution state consumed by incremental ingest (operators/
    # incremental.py): the alias-level name index and accepted duplicate
    # pairs (the reference persists the latter as IS_DUPLICATE_OF edges)
    "entities",
    "pairs",
    # the full alias→canonical map (identity rows included) — the delta
    # ingest path (operators/incremental.py) diffs the new map against it
    # to find re-pointed canonicals without re-running CC over the graph
    "uuid_map",
    # the materialized BM25 index (channel, group_id, id, term, tf) —
    # the DataFrame twin of the reference's server-side Lucene indices
    # (graph_queries.py:48-127); built by fulltext.build_graph_postings,
    # maintained incrementally on ingest, consumed by search(...,
    # graph_postings=...) so no query re-tokenizes the corpus
    "postings",
)


def save_graph(
    outputs: dict[str, DataFrame],
    path: str,
    tables: tuple[str, ...] = GRAPH_TABLES,
    partition_cols: dict[str, str] | None = None,
) -> dict[str, str]:
    """Write every present graph table to ``path/<table>`` parquet,
    partitioned by group_id (when present), sorted by uuid within
    partitions. ``tables``/``partition_cols`` generalize the same
    versioned-state layout to other table families (the corpus dedup
    state partitions its LSH index by band). The jobs of each write
    carry the description ``write:<table>``."""
    partition_cols = partition_cols or {}
    written: dict[str, str] = {}
    for name in tables:
        df = outputs.get(name)
        if df is None:
            continue
        target = os.path.join(path, name)
        with job_description(df.sparkSession, f"write:{name}"):
            if "group_id" in df.columns:
                # uuid sort = point-lookup min/max skipping; the postings
                # table sorts by term instead (query terms prune row groups)
                sort_col = (
                    "uuid" if "uuid" in df.columns
                    else ("term" if "term" in df.columns else df.columns[0])
                )
                (
                    # cluster rows by the partition column BEFORE the
                    # partitioned write: otherwise every write task opens a
                    # file per group it happens to hold (tasks × groups small
                    # files — the classic partitionBy fan-out). AQE rebalances
                    # skewed groups.
                    df.repartition("group_id")
                    .sortWithinPartitions(sort_col)
                    .write.mode("overwrite")
                    .partitionBy("group_id")
                    .parquet(target)
                )
            elif name in partition_cols:
                pcol = partition_cols[name]
                (
                    df.repartition(pcol)
                    .write.mode("overwrite")
                    .partitionBy(pcol)
                    .parquet(target)
                )
            else:  # e.g. pairs(src, dst)
                df.write.mode("overwrite").parquet(target)
        written[name] = target
    return written


def load_graph(
    spark: SparkSession, path: str, tables: tuple[str, ...] = GRAPH_TABLES
) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in tables:
        target = os.path.join(path, name)
        if os.path.isdir(target):
            out[name] = spark.read.parquet(target)
    return out


# Upsert keys per graph table: an upsert replaces every base row sharing
# its key; deletes remove keys outright. Single-row keys for the entity/
# edge tables; the postings index keys by (channel, id) — one document's
# whole posting list swaps atomically.
DELTA_KEYS: dict[str, list[str]] = {
    "nodes": ["uuid"],
    "edges": ["uuid"],
    "mention_edges": ["uuid"],
    "episodes": ["uuid"],
    "communities": ["uuid"],
    "has_member": ["uuid"],
    "entities": ["uuid"],
    "pairs": ["src", "dst"],
    "uuid_map": ["uuid"],
    "postings": ["channel", "id"],
}

DELTA_MARKER = "_DELTA"


def save_graph_delta(
    delta: dict, path: str, keys: dict[str, list[str]] | None = None
) -> dict[str, str]:
    """Write ONLY the changed rows of a batch (ingest_incremental's
    ``delta`` map: {table: {upserts, deletes?}}) — the parquet sandbox
    equivalent of one Iceberg MERGE per table (upsert_sql). Layout:
    ``path/<table>/upserts`` (+ ``/deletes``) plus a _DELTA marker."""
    keys = keys if keys is not None else DELTA_KEYS
    written: dict[str, str] = {}
    for table, parts in delta.items():
        if table not in keys or not isinstance(parts, dict):
            continue
        target = os.path.join(path, table)
        parts["upserts"].write.mode("overwrite").parquet(
            os.path.join(target, "upserts")
        )
        deletes = parts.get("deletes")
        if deletes is not None:
            deletes.write.mode("overwrite").parquet(
                os.path.join(target, "deletes")
            )
        written[table] = target
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, DELTA_MARKER), "w") as fh:
        fh.write("")
    return written


def apply_graph_delta(
    spark: SparkSession,
    base: dict,
    path: str,
    table_keys: dict[str, list[str]] | None = None,
) -> dict:
    """Merge-on-read one delta version onto ``base`` (lazy plans; nothing
    materializes until a query runs): delete keyed rows, append upserts."""
    from pyspark.sql import functions as F  # noqa: F401

    table_keys = table_keys if table_keys is not None else DELTA_KEYS
    out = dict(base)
    for table, keys in table_keys.items():
        target = os.path.join(path, table)
        up_dir = os.path.join(target, "upserts")
        if not os.path.isdir(up_dir):
            continue
        up = spark.read.parquet(up_dir)
        b = out.get(table)
        if b is None:
            # A base without this table (a pre-delta snapshot) cannot be
            # patched from a batch-sized upsert set — installing the
            # partial frame as the WHOLE table would silently corrupt
            # every later merge (a uuid_map missing its prior components
            # breaks repoint detection; partial postings drop most of
            # the corpus from BM25). Leave the table absent: consumers
            # rebuild a missing table from first principles
            # (ingest_incremental reconstructs uuid_map from pairs and
            # postings from the merged corpus).
            continue
        dead = up.select(*keys).distinct()
        del_dir = os.path.join(target, "deletes")
        if os.path.isdir(del_dir):
            dead = dead.unionByName(
                spark.read.parquet(del_dir).select(*keys)
            ).distinct()
        out[table] = b.join(dead, keys, "left_anti").unionByName(
            up.select(*b.columns)
        )
    return out


def load_graph_versions(
    spark: SparkSession,
    dirs: list[str],
    tables: tuple[str, ...] = GRAPH_TABLES,
    keys: dict[str, list[str]] | None = None,
) -> dict:
    """Reconstruct graph state from a FULL snapshot dir followed by zero
    or more delta dirs (newest last) — the reader half of the versioned
    delta commit (streaming/ingest.py)."""
    state = load_graph(spark, dirs[0], tables)
    for d in dirs[1:]:
        state = apply_graph_delta(spark, state, d, keys)
    return state


def create_table_sql(table: str, schema_ddl: str) -> str:
    """S8 DDL twin: the Iceberg CREATE TABLE this engine's graph tables
    map to on a real catalog (no catalog ships in this sandbox, so the
    statement is emitted, tested for shape, and documented rather than
    executed). The clauses carry the same physical design save_graph
    enforces on parquet:

      - PARTITIONED BY (group_id): the reference's graph partition key
        (database-per-group on FalkorDB, graphiti.py:698-701) becomes
        partition pruning;
      - WRITE ORDERED BY uuid: parquet min/max skipping on uuid — the
        S5 point-lookup/keyset-pagination "index";
      - the uuid identity is the upsert key (see upsert_sql).
    """
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({schema_ddl}) USING iceberg "
        "PARTITIONED BY (group_id) "
        "TBLPROPERTIES ('write.distribution-mode'='hash', "
        "'sort-order'='uuid ASC NULLS FIRST')"
    )


def graph_ddl(catalog_prefix: str = "graph") -> dict[str, str]:
    """CREATE TABLE statements for every graph table (column DDL from
    schemas.py StructTypes)."""
    from graphiti_spark import schemas

    ddl: dict[str, str] = {}
    for name, struct in (
        ("nodes", schemas.NODES_SCHEMA),
        ("edges", schemas.EDGES_SCHEMA),
        ("mention_edges", schemas.MENTIONS_SCHEMA),
        ("episodes", schemas.EPISODES_SCHEMA),
        ("communities", schemas.COMMUNITIES_SCHEMA),
    ):
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in struct)
        ddl[name] = create_table_sql(f"{catalog_prefix}.{name}", cols)
    return ddl


def upsert_sql(table: str, updates_view: str) -> str:
    """The Iceberg MERGE statement this write maps to on a real catalog
    (S6 single/bulk upsert semantics)."""
    return (
        f"MERGE INTO {table} t USING {updates_view} u ON t.uuid = u.uuid "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
