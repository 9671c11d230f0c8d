"""Frozen constants and run configuration.

Numeric dedup/search constants are ported 1:1 from the reference so that
unit-test vectors and P/R comparisons hold:
  - MinHash/LSH/Jaccard/entropy: /root/reference/graphiti_core/utils/maintenance/dedup_helpers.py:31-36
  - similarity min score / MMR lambda / BFS depth: .../graphiti_core/search/search_utils.py:64-66
  - episode context window: .../graphiti_core/utils/maintenance/graph_data_operations.py:29
  - summary cap: .../graphiti_core/utils/text_utils.py:20
  - default edge name: .../graphiti_core/utils/maintenance/edge_operations.py:46

The extraction gazetteer is this engine's deterministic replacement for the
reference's LLM extraction prompts (extract_nodes.py / extract_edges.py).
It is FROZEN: it defines the expected-triple set used for P/R scoring, so
any change to it is a breaking change to the correctness contract.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

# --- entity-resolution constants (reference dedup_helpers.py:31-36) ---
NAME_ENTROPY_THRESHOLD = 1.5
MIN_NAME_LENGTH = 6
MIN_TOKEN_COUNT = 2
FUZZY_JACCARD_THRESHOLD = 0.9
MINHASH_PERMUTATIONS = 32
MINHASH_BAND_SIZE = 4

# --- search constants (reference search_utils.py:63-67, search_config.py:29) ---
DEFAULT_MIN_SCORE = 0.6
DEFAULT_MMR_LAMBDA = 0.5
MAX_SEARCH_DEPTH = 3
DEFAULT_SEARCH_LIMIT = 10
# per-edge candidate budget for relevance/invalidation probes
# (reference RELEVANT_SCHEMA_LIMIT, search_utils.py:63)
RELEVANT_SCHEMA_LIMIT = 10

# --- ingestion constants ---
EPISODE_WINDOW_LEN = 3          # reference graph_data_operations.py:29
MAX_SUMMARY_CHARS = 500         # reference text_utils.py:20
DEFAULT_EDGE_NAME = "RELATES_TO"  # reference edge_operations.py:46

# --- this engine's additions ---
EMBEDDING_DIM = 64              # deterministic feature-hash embedding dim
EMBED_COSINE_THRESHOLD = 0.95   # D8' embedding fallback replacing LLM dedup
N_SALT = 16                     # salt buckets for hub-entity skew mitigation

# Fixed transaction timestamp for deterministic runs (replaces utc_now();
# the reference stamps created_at/expired_at with wall-clock which would
# break run-to-run reproducibility and the DuckDB oracle comparison).
DEFAULT_RUN_TS = datetime(2026, 1, 1, 0, 0, 0, tzinfo=timezone.utc)

# --- FROZEN extraction gazetteer (closed 31-token corpus vocabulary) ---
# Deterministic replacement for the reference's LLM prompts:
#   extract_nodes (node_operations.py:88-208) → ENTITY_NOUNS/ADJECTIVES
#   extract_edges (edge_operations.py:89-238) → RELATION_VERBS
STOPWORDS = frozenset({"the", "a"})
ADJECTIVES = frozenset({"fast", "small", "slow", "big"})
RELATION_VERBS = frozenset(
    {"join", "merge", "filter", "sort", "scan", "group", "agg", "dup"}
)
ENTITY_NOUNS = frozenset(
    {
        "table", "window", "hash", "batch", "stream", "spark", "query",
        "row", "data", "customer", "line", "value", "column", "vector",
        "key", "part", "order",
    }
)

# Stable sorted forms for SQL IN-lists (determinism across runs).
ENTITY_NOUNS_SORTED = tuple(sorted(ENTITY_NOUNS))
RELATION_VERBS_SORTED = tuple(sorted(RELATION_VERBS))
ADJECTIVES_SORTED = tuple(sorted(ADJECTIVES))

# --- FROZEN entity-type ontology (E3/D19; reference classifies each
# mention into user-supplied entity types, node_operations.py:133-208,
# and attaches labels, nodes.py:435-443). Deterministic replacement:
# the mention's HEAD NOUN (last token) maps to a type; every node gets
# labels = ["Entity", <type>]. ---
DEFAULT_ENTITY_TYPE = "Entity"
NOUN_ENTITY_TYPES: dict[str, str] = {
    "customer": "Person",
    "spark": "System", "stream": "System", "batch": "System",
    "query": "System", "window": "System", "hash": "System",
    "table": "DataAsset", "row": "DataAsset", "data": "DataAsset",
    "line": "DataAsset", "value": "DataAsset", "column": "DataAsset",
    "vector": "DataAsset", "key": "DataAsset", "part": "DataAsset",
    "order": "DataAsset",
}
ENTITY_TYPES_SORTED = tuple(sorted(set(NOUN_ENTITY_TYPES.values())))

# D19 edge ontology: which custom edge names are allowed per
# (src_type, dst_type); a custom name on a non-permitted pair resets to
# RELATES_TO (reference edge_operations.py:575-613). Non-custom names
# pass through untouched.
EDGE_TYPE_MAP: dict[tuple[str, str], list[str]] = {
    ("Person", "DataAsset"): ["JOIN", "SCAN", "FILTER"],
    ("System", "DataAsset"): ["SCAN", "FILTER", "SORT", "GROUP", "AGG", "JOIN"],
    ("DataAsset", "DataAsset"): ["JOIN", "MERGE", "DUP", "SORT"],
    ("DataAsset", "System"): ["GROUP", "AGG"],
    ("System", "System"): ["MERGE"],
}
CUSTOM_EDGE_TYPES = frozenset(v.upper() for v in RELATION_VERBS)


def sql_in_list(values: tuple[str, ...]) -> str:
    """Render a tuple of strings as a SQL IN-list literal."""
    return "(" + ", ".join(f"'{v}'" for v in values) + ")"


@dataclass(frozen=True)
class RunConfig:
    """Per-run knobs for the batch DAG."""

    run_ts: datetime = DEFAULT_RUN_TS
    run_id: str = "run-0"
    # E3: entity types whose mentions (and touching facts) are excluded
    # from the graph (reference excluded_entity_types). Empty = keep all.
    excluded_entity_types: tuple = ()
    # G2-G4: build the communities/has_member tables as part of the
    # batch DAG (reference build_communities) so the incremental/
    # streaming ingest can MAINTAIN them per batch (reference
    # add_episode(update_communities=True) — community_operations.py
    # update_community). Off by default: community detection is an
    # iterative LP fixpoint the flagship triple path doesn't need.
    with_communities: bool = False
    checkpoint_dir: str | None = None   # enables lineage + stage resume
    # Which stages to materialize when no checkpoint_dir is set; each
    # selected stage is computed once by an eager localCheckpoint and
    # later stages read it without its lineage. True = every stage that
    # a later stage reads (a stage with a single reader stays lazy and
    # fuses into that reader's job); False = none; a set of stage names
    # = exactly those (single-output batch runs cut only at the small,
    # heavily-reused dedup subtree and let Catalyst fuse the big row
    # streams into deep jobs).
    persist_stages: bool | frozenset = True


# The small, reused subtree worth materializing in single-output batch runs:
# the token stream feeds both extraction outputs (one posexplode pass);
# entities/pairs are tiny and consumed by several joins (incl. the eager
# CC). uuid_map is not in it: the remaps read CC's alias map, and the
# identity-padded map has no reader inside the pipeline.
BATCH_PERSIST_STAGES = frozenset(
    {"episodes", "token_stream", "entities", "pairs"}
)
