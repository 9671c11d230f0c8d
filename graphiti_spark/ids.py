"""Deterministic identities.

The reference assigns uuid4 to every node/edge
(/root/reference/graphiti_core/nodes.py:88), which makes output
non-reproducible. This engine replaces them with content-derived sha256
ids (SURVEY.md §2.7) so two runs — and the Spark job vs the DuckDB
oracle — emit identical graphs:

  episode uuid  = sha256(url)
  entity uuid   = sha256(group_id ‖ '|' ‖ normalized name)
  edge uuid     = sha256(group_id ‖ '|' ‖ src ‖ '|' ‖ dst ‖ '|' ‖ pred ‖ '|' ‖ fact_norm)
  mention uuid  = sha256(episode_uuid ‖ '|' ‖ entity_uuid)

sha256 (not sha1) because both Spark (`sha2(x, 256)`) and DuckDB
(`sha256(x)`) expose it natively with identical lowercase-hex output —
the ids stay computable inside the declarative plan, never in Python.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "|"


def _sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


# ---- driver-side (pure python, used by tests / expectation builders) ----

def episode_uuid(url: str) -> str:
    return _sha256_hex(url)


def mention_uuid(episode: str, entity: str) -> str:
    return _sha256_hex(f"{episode}{SEP}{entity}")


# ---- column-side (native Spark expressions; Catalyst/codegen path) ----

def episode_uuid_col(url: Column) -> Column:
    return F.sha2(url, 256)


def entity_uuid_col(group_id: Column, name_norm: Column) -> Column:
    return F.sha2(F.concat_ws(SEP, group_id, name_norm), 256)


def edge_uuid_col(
    group_id: Column, src: Column, dst: Column, pred: Column, fact_norm: Column
) -> Column:
    return F.sha2(F.concat_ws(SEP, group_id, src, dst, pred, fact_norm), 256)


def mention_uuid_col(episode: Column, entity: Column) -> Column:
    return F.sha2(F.concat_ws(SEP, episode, entity), 256)

