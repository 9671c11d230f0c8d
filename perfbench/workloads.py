"""The benchmark's workloads: their inputs, their operations, and the
check of what each operation committed.

Every operation writes its output through the program's own sink
(``materialize.save_graph`` / ``save_graph_delta``). After the timed
region the output is read back with DuckDB and hashed the way the
oracle gate hashes (``scripts/verify_oracle.py``: ``frame_hash``), and
the hash must equal that of the DuckDB oracle in
``graphiti_spark/oracle.py`` over the same documents.

``build`` also has an ingest-and-search phase (``ingest_batch``,
``run_query``): the seed's batch of pages merged into the saved graph
and committed as a delta, then hybrid searches over the merged graph.
The merged edges must equal the oracle over the prior pages plus the
batch (the engine's associativity contract).
"""

from __future__ import annotations

import functools
import importlib.util
import os
from dataclasses import dataclass

import corpus

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@functools.cache
def _gate():
    spec = importlib.util.spec_from_file_location(
        "verify_oracle", os.path.join(ROOT, "scripts", "verify_oracle.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    """The correctness gate's order-insensitive frame hash."""
    return _gate().frame_hash(cols, rows)


def duckdb_digest(sql: str, views: dict[str, str | list[str]] | None = None) -> dict:
    """Run ``sql`` in DuckDB (optionally over parquet-backed views) and
    return its row count and frame hash."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name, path in (views or {}).items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({path!r})")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    return {"rows": len(rows), "sha256": frame_hash(cols, rows)}


def oracle_digest(query: str, documents: str | list[str]) -> dict:
    """The DuckDB oracle's digest of ``query`` over ``documents``."""
    from graphiti_spark.oracle import oracle_queries

    return duckdb_digest(oracle_queries()[query], {"documents": documents})


def _ts(col: str) -> str:
    return f"strftime(CAST({col} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS {col}"


EDGE_COLS = ("uuid, group_id, source_node_uuid, target_node_uuid, name, fact, "
             "episodes, valid_at, invalid_at, expired_at")


def _table_sql(table: str, cols: str, snap: str, delta: str | None = None) -> str:
    """``table`` as saved in ``snap``, with ``delta`` applied on read the
    way ``materialize.apply_graph_delta`` does: keyed rows deleted,
    upserts appended."""
    base = (f"SELECT {cols} FROM read_parquet('{snap}/{table}/**/*.parquet', "
            f"hive_partitioning = true)")
    if delta is None:
        return base
    up = f"SELECT {cols} FROM read_parquet('{delta}/{table}/upserts/*.parquet')"
    dead = f"SELECT uuid FROM read_parquet('{delta}/{table}/upserts/*.parquet')"
    if os.path.isdir(os.path.join(delta, table, "deletes")):
        dead += f" UNION SELECT uuid FROM read_parquet('{delta}/{table}/deletes/*.parquet')"
    return f"SELECT * FROM ({base}) WHERE uuid NOT IN ({dead}) UNION ALL {up}"


def edges_digest(snap: str, delta: str | None = None) -> dict:
    """Digest of the saved edges in the oracle's ``flagship_triples`` form."""
    return duckdb_digest(f"""
SELECT uuid, group_id, source_node_uuid, target_node_uuid,
       name AS predicate, fact,
       episodes[1] AS first_episode_uuid,
       CAST(len(episodes) AS BIGINT) AS episode_count,
       {_ts('valid_at')}, {_ts('invalid_at')}, {_ts('expired_at')}
FROM ({_table_sql('edges', EDGE_COLS, snap, delta)})""")


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int  # the fixture's documents with doc_id below this
    unit_rows: str  # what the output rows are, for the run record

    def stage(self, seed: int, work: str) -> dict:
        """Write the run's inputs under ``work``; return their paths."""
        raise NotImplementedError

    def run(self, spark, inputs: dict, out_dir: str) -> None:
        raise NotImplementedError

    def check(self, inputs: dict, out_dir: str, stored: dict) -> dict:
        """{"ok", "got", "want"} for one operation's committed output."""
        raise NotImplementedError


class Build(Workload):
    """Bulk build: pages → knowledge graph → saved graph tables (the
    jobs/build_graph.py path), over the slice minus the seed's batch."""

    batch_pages = 2

    def stage(self, seed: int, work: str) -> dict:
        prior, batch = corpus.split_batch(corpus.documents(self.n_docs),
                                          self.batch_pages, seed)
        return {
            "prior": corpus.write(prior, seed, os.path.join(work, "input", "prior")),
            "batch": corpus.write(batch, seed, os.path.join(work, "input", "batch")),
        }

    def run(self, spark, inputs: dict, out_dir: str) -> None:
        from graphiti_spark.config import RunConfig
        from graphiti_spark.materialize import save_graph
        from graphiti_spark.pipeline import run_pipeline

        save_graph(run_pipeline(spark, inputs["prior"], RunConfig()), out_dir)

    def check(self, inputs: dict, out_dir: str, stored: dict) -> dict:
        want = oracle_digest("flagship_triples",
                             os.path.join(inputs["prior"], "documents.parquet"))
        got = edges_digest(out_dir)
        return {"ok": got == want, "got": got, "want": want}


class Curate(Workload):
    """Curation funnel with the oracle's defaults; survivors saved."""

    def stage(self, seed: int, work: str) -> dict:
        return {"docs": corpus.write(corpus.documents(self.n_docs), seed,
                                     os.path.join(work, "input", "docs"))}

    def run(self, spark, inputs: dict, out_dir: str) -> None:
        from graphiti_spark.materialize import save_graph
        from graphiti_spark.operators.curation import curation_funnel

        docs = spark.read.parquet(os.path.join(inputs["docs"], "documents.parquet"))
        survivors = curation_funnel(docs.select("doc_id", "text"))
        save_graph({"survivors": survivors}, out_dir, tables=("survivors",))

    def check(self, inputs: dict, out_dir: str, stored: dict) -> dict:
        # The curation oracle is a quadratic self-join: its digest is
        # computed once by oracle_digests.py and stored.
        want = stored.get("docs_curation_funnel")
        path = os.path.join(out_dir, "survivors", "*.parquet")
        got = duckdb_digest(f"SELECT * FROM read_parquet('{path}')")
        return {"ok": got == want, "got": got, "want": want}


WORKLOADS = {
    w.name: w
    for w in (
        Build("build", n_docs=300, unit_rows="triples"),
        Curate("curate", n_docs=600, unit_rows="surviving docs"),
    )
}
STORED_ORACLES = {"curate": "docs_curation_funnel"}


# ---- build's ingest-and-search phase ----------------------------------

QUERIES = 3  # one per recipe


def ingest_batch(spark, inputs: dict, snap: str, delta: str) -> None:
    """The batch merged into the graph saved at ``snap``, committed as
    one delta directory (the jobs/ingest_delta.py path)."""
    from graphiti_spark.config import RunConfig
    from graphiti_spark.materialize import load_graph, save_graph_delta
    from graphiti_spark.operators.incremental import ingest_incremental
    from graphiti_spark.sources.pages import load_pages

    prior = load_graph(spark, snap)
    merged = ingest_incremental(spark, load_pages(spark, inputs["batch"]), prior,
                                RunConfig())
    save_graph_delta(merged["delta"], delta)


def check_merged(inputs: dict, snap: str, delta: str) -> dict:
    want = oracle_digest("flagship_triples", [
        os.path.join(inputs[k], "documents.parquet") for k in ("prior", "batch")])
    got = edges_digest(snap, delta)
    return {"ok": got == want, "got": got, "want": want}


def recipes() -> list[tuple[str, object]]:
    from graphiti_spark.search import hybrid

    return [(name, getattr(hybrid, name)) for name in (
        "EDGE_HYBRID_SEARCH_RRF", "NODE_HYBRID_SEARCH_RRF",
        "EDGE_HYBRID_SEARCH_NODE_DISTANCE")]


def query_words(seed: int, n_queries: int) -> list[str]:
    """Three words per query from the extraction gazetteer."""
    import numpy as np

    from graphiti_spark.config import ADJECTIVES_SORTED, ENTITY_NOUNS_SORTED

    vocab = sorted(set(ADJECTIVES_SORTED) | set(ENTITY_NOUNS_SORTED))
    rng = np.random.default_rng([seed, 2])
    return [" ".join(rng.choice(vocab, 3, replace=False)) for _ in range(n_queries)]


def run_query(state: dict, text: str, recipe, center: str | None) -> dict:
    """One hybrid search over the merged graph, results collected:
    {channel: [(id, rank), ...]}."""
    from graphiti_spark.search.hybrid import search

    res = search(text, recipe, nodes=state["nodes"], edges=state["edges"],
                 mention_edges=state["mention_edges"],
                 graph_postings=state.get("postings"), center_uuid=center)
    return {ch: [(r["id"], r["rank"]) for r in df.collect()] for ch, df in res.items()}


def check_query(result: dict, limit: int, snap: str, delta: str) -> dict:
    """A query passes when every channel returned 1..limit distinct ids,
    ranked 1..n, that exist in the merged graph."""
    import duckdb

    problems = []
    con = duckdb.connect()
    try:
        for channel, rows in result.items():
            ids = [r[0] for r in rows]
            if not 1 <= len(ids) <= limit or len(set(ids)) != len(ids):
                problems.append(f"{channel}: {len(ids)} rows, {len(set(ids))} distinct")
            if sorted(r[1] for r in rows) != list(range(1, len(rows) + 1)):
                problems.append(f"{channel}: ranks not 1..{len(rows)}")
            known = {r[0] for r in con.execute(
                _table_sql(channel, "uuid", snap, delta)).fetchall()}
            if set(ids) - known:
                problems.append(f"{channel}: {len(set(ids) - known)} ids not in the graph")
    finally:
        con.close()
    return {"ok": bool(result) and not problems,
            "got": {ch: len(rows) for ch, rows in result.items()},
            "want": f"1..{limit} distinct graph ids per channel", "problems": problems}
