"""Blocking: the keyed self-join every near-dup matcher stands on
(SURVEY.md §4, D6; reference lsh_buckets, dedup_helpers.py:117-128,170-195).

Rows carry one or more blocking keys per id (LSH bands, simhash chunk
pairs, hyperplane buckets, IVF cells). Two ids are a candidate pair iff
they share a key; the caller verifies candidates with its own measure
(Jaccard, hamming, cosine). The join fans out with the group size, so a
group above ``max_group`` is dropped and reported, never silently: that
loses recall, and the ``dropped`` frame (*keys, size) says how much.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def capped_groups(
    rows: DataFrame, keys: list[str], max_group: int, size_col: str = "bucket_n"
) -> tuple[DataFrame, DataFrame]:
    """(kept_keys, dropped): the distinct keys whose group holds at most
    ``max_group`` rows, and (*keys, size_col) for every larger group."""
    sizes = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias(size_col))
    kept_keys = sizes.filter(F.col(size_col) <= max_group).select(*keys)
    return kept_keys, sizes.filter(F.col(size_col) > max_group)


def blocked_pairs(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    payload: list[str],
    max_group: int | None = None,
    prefilter: Column | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """(pairs, dropped): every id pair sharing a kept key, once.

    ``pairs`` has columns a_<id_col>, a_<payload>…, b_<id_col>,
    b_<payload>… with a < b on the id. ``dropped`` is the
    ``capped_groups`` metrics frame, or None when ``max_group`` is None.

    ``prefilter`` is a predicate over the a_*/b_* columns that must be a
    necessary condition of the caller's verify: it is applied to the
    joined rows before the per-pair dedup, so a pair it rejects is never
    deduped or verified (a filter placed after the dedup cannot be
    pushed below its aggregate).

    ``rows`` is read three times (the group-size aggregate and both join
    sides; twice without a cap). When the rows come out of a UDF, pass
    them materialized (e.g. ``localCheckpoint()``), or every read runs
    the UDF again."""
    dropped = None
    if max_group is not None:
        kept_keys, dropped = capped_groups(rows, keys, max_group)
        rows = rows.join(kept_keys, keys)
    cols = [id_col, *payload]

    def side(p):
        return rows.select(*keys, *[F.col(c).alias(f"{p}_{c}") for c in cols])

    joined = side("a").join(side("b"), keys).filter(
        F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    )
    if prefilter is not None:
        joined = joined.filter(prefilter)
    pairs = joined.select(*[f"{p}_{c}" for p in "ab" for c in cols]).dropDuplicates(
        [f"a_{id_col}", f"b_{id_col}"]
    )
    return pairs, dropped
