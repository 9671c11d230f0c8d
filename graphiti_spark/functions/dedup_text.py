"""Entity-name dedup kernels (SURVEY.md §2.3 D1–D7).

Semantics ported from /root/reference/graphiti_core/utils/maintenance/
dedup_helpers.py (constants at :31-36) and unit-tested against the same
vectors the reference uses. Implementation is new: normalization, shingles
and Jaccard run as NATIVE Spark column expressions (whole-stage codegen,
no Python); only the MinHash signature needs Python (blake2b, :97-100) and
runs as an Arrow-vectorized pandas UDF over DISTINCT names — a tiny input
relative to the corpus.

Scale design: MinHash/LSH exists precisely to avoid the O(n²) pair
comparison (reference dedup_helpers.py:117-128). Here the LSH buckets
become a shuffle key: explode (band_idx, band_hash) → groupBy → pairs.
"""

from __future__ import annotations

import math
import re
from hashlib import blake2b

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from graphiti_spark.config import (
    MIN_NAME_LENGTH,
    MIN_TOKEN_COUNT,
    MINHASH_BAND_SIZE,
    MINHASH_PERMUTATIONS,
    NAME_ENTROPY_THRESHOLD,
)

# ---------------------------------------------------------------- python --
# Driver/test-side reference-parity kernels (also used inside pandas UDFs).


def normalize_string_exact(name: str) -> str:
    """Lowercase + collapse whitespace (reference dedup_helpers.py:39-42)."""
    return re.sub(r"\s+", " ", name.lower()).strip()


def normalize_name_for_fuzzy(name: str) -> str:
    """Keep [a-z0-9' ] of the exact-normalized name (reference :45-49)."""
    normalized = re.sub(r"[^a-z0-9' ]", " ", normalize_string_exact(name))
    return re.sub(r"\s+", " ", normalized.strip())


def name_entropy(normalized_name: str) -> float:
    """Shannon char entropy, spaces stripped (reference :52-76)."""
    stripped = normalized_name.replace(" ", "")
    if not stripped:
        return 0.0
    counts: dict[str, int] = {}
    for ch in stripped:
        counts[ch] = counts.get(ch, 0) + 1
    total = len(stripped)
    return -sum((c / total) * math.log2(c / total) for c in counts.values())


def has_high_entropy(normalized_name: str) -> bool:
    """Entropy gate: len≥6 or ≥2 tokens, and entropy ≥1.5 (reference :79-85)."""
    token_count = len(normalized_name.split())
    if len(normalized_name) < MIN_NAME_LENGTH and token_count < MIN_TOKEN_COUNT:
        return False
    return name_entropy(normalized_name) >= NAME_ENTROPY_THRESHOLD


def shingles(normalized_name: str) -> set[str]:
    """Char 3-gram shingles of the space-stripped name (reference :88-94)."""
    cleaned = normalized_name.replace(" ", "")
    if len(cleaned) < 2:
        return {cleaned} if cleaned else set()
    return {cleaned[i : i + 3] for i in range(len(cleaned) - 2)}


def hash_shingle(shingle: str, seed: int) -> int:
    """64-bit blake2b of 'seed:shingle' (reference :97-100)."""
    return int.from_bytes(
        blake2b(f"{seed}:{shingle}".encode(), digest_size=8).digest(), "big"
    )


def minhash_signature(shingle_set) -> tuple[int, ...]:
    """Min over shingle hashes per of 32 seeds (reference :103-114)."""
    if not shingle_set:
        return tuple()
    return tuple(
        min(hash_shingle(s, seed) for s in shingle_set)
        for seed in range(MINHASH_PERMUTATIONS)
    )


def lsh_bands(signature) -> list[tuple[int, ...]]:
    """Split signature into bands of 4 (reference :117-128)."""
    sig = list(signature)
    return [
        tuple(sig[i : i + MINHASH_BAND_SIZE])
        for i in range(0, len(sig), MINHASH_BAND_SIZE)
        if len(sig[i : i + MINHASH_BAND_SIZE]) == MINHASH_BAND_SIZE
    ]


def jaccard_similarity(a: set[str], b: set[str]) -> float:
    """Jaccard with empty-set edge cases (reference :131-140)."""
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    union = len(a | b)
    return len(a & b) / union if union else 0.0


# ---------------------------------------------------------------- spark ---


def normalize_string_exact_col(name: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(name), r"\s+", " "))


def normalize_name_for_fuzzy_col(name: Column) -> Column:
    cleaned = F.regexp_replace(normalize_string_exact_col(name), r"[^a-z0-9' ]", " ")
    return F.regexp_replace(F.trim(cleaned), r"\s+", " ")


def shingles_col(normalized_name: Column) -> Column:
    """Native 3-gram shingle set: transform over a position sequence.

    Output is a sorted distinct array<string> so downstream set algebra
    (array_intersect/array_union) is deterministic.
    """
    cleaned = F.regexp_replace(normalized_name, " ", "")
    n = F.length(cleaned)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(2)),
        lambda i: F.substring(cleaned, i, F.lit(3)),
    )
    # n==1 → {name}; n==0 or n==2 → {} (reference quirk: a 2-char name has
    # no 3-grams and does NOT fall back to itself, dedup_helpers.py:88-94);
    # guard n<3 explicitly because Spark's sequence(1, n-2) DESCENDS when
    # n-2 < 1 instead of being empty.
    return (
        F.when(n == 1, F.array(cleaned))
        .when(n < 3, F.array().cast("array<string>"))
        .otherwise(F.array_sort(F.array_distinct(grams)))
    )


def jaccard_col(a: Column, b: Column) -> Column:
    """Native Jaccard over two shingle arrays (assumed distinct elements)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return (
        F.when((F.size(a) == 0) & (F.size(b) == 0), F.lit(1.0))
        .when((F.size(a) == 0) | (F.size(b) == 0), F.lit(0.0))
        .otherwise(inter.cast("double") / union.cast("double"))
    )


def jaccard_size_bound(a: Column, b: Column, t: float) -> Column:
    """Length filter (ICDE 2022, PAPERS.md): a necessary condition of
    ``round(jaccard_col(a, b), 4) >= t`` and of ``jaccard_col(a, b) >= t``
    read off the two sizes alone. J ≤ min/max because |A∩B| ≤ min and
    |A∪B| ≥ max, and rounding is monotone, so no pair either verify
    keeps is rejected. Like ``jaccard_col`` it assumes distinct
    elements; two empty arrays (J = 1) pass."""
    lo = F.least(F.size(a), F.size(b))
    hi = F.greatest(F.size(a), F.size(b))
    return F.when(hi == 0, F.lit(True)).otherwise(
        F.round(lo.cast("double") / hi.cast("double"), 4) >= t
    )


def entropy_gate_col(normalized_fuzzy: Column) -> Column:
    """Native entropy gate: length/token-count pre-check + Shannon entropy
    computed via aggregate over per-character counts."""
    stripped = F.regexp_replace(normalized_fuzzy, " ", "")
    chars = F.split(stripped, "")
    # chars of "abc" → ["a","b","c"]; empty string → [""]
    counts = F.transform(
        F.array_distinct(chars),
        lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double"),
    )
    total = F.length(stripped).cast("double")
    entropy = F.when(total > 0, -F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + (c / total) * F.log2(c / total),
    )).otherwise(F.lit(0.0))
    token_count = F.size(F.split(normalized_fuzzy, " "))
    length_ok = (F.length(normalized_fuzzy) >= MIN_NAME_LENGTH) | (
        token_count >= MIN_TOKEN_COUNT
    )
    return length_ok & (entropy >= F.lit(NAME_ENTROPY_THRESHOLD))


@F.pandas_udf(ArrayType(LongType()))
def minhash_signature_udf(shingle_arrays: pd.Series) -> pd.Series:
    """Arrow-vectorized MinHash over shingle arrays.

    Values are reference-parity 64-bit unsigned ints stored in int64 via
    two's-complement wrap (stable, comparable, groupable); empty shingle
    sets yield an empty signature (no LSH bands → never blocked, matching
    reference behaviour where empty signatures produce no bands).
    """

    def sig(arr) -> list[int] | None:
        if arr is None:
            return None
        s = list(arr)
        if not s:
            return []
        out = []
        for seed in range(MINHASH_PERMUTATIONS):
            prefix = f"{seed}:".encode()
            m = min(
                int.from_bytes(
                    blake2b(prefix + sh.encode(), digest_size=8).digest(), "big"
                )
                for sh in s
            )
            out.append(m - (1 << 64) if m >= (1 << 63) else m)
        return out

    return shingle_arrays.map(sig)


def lsh_band_keys_col(signature: Column) -> Column:
    """Split a 32-long signature into 8 band structs (band_idx, key) where
    key is a string fingerprint of the 4 values — the LSH shuffle key."""
    n_bands = MINHASH_PERMUTATIONS // MINHASH_BAND_SIZE
    bands = []
    for b in range(n_bands):
        vals = [
            F.element_at(signature, b * MINHASH_BAND_SIZE + i + 1)
            for i in range(MINHASH_BAND_SIZE)
        ]
        bands.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(":", *[v.cast("string") for v in vals]).alias("band_key"),
            )
        )
    return F.when(F.size(signature) >= MINHASH_PERMUTATIONS, F.array(*bands)).otherwise(
        F.array().cast("array<struct<band_idx:int,band_key:string>>")
    )
