"""Connected components over a DataFrame of duplicate pairs
(SURVEY.md D13/D14; north_rule: "connected-components-based entity
canonicalization (large-star/small-star iterations on DataFrames)").

Every node maps to the minimum id of its component — the reference's
min-uuid root convention (bulk_utils.py:498-535). Two regimes share one
entry point, chosen by the size of the symmetrized edge set, which is
checkpointed once and then read by one bounded collect:

* at most ``GATE`` edge rows — the driver regime. The collected Arrow
  table runs the reference's own algorithm, min-root union-find with
  path compression, and the mapping returns as a local relation
  (``LocalTableScan``: no Python workers, a short plan) of at most
  ``GATE`` rows, one per node. Callers broadcast it without counting
  it (``DataFrame.isLocal()`` tells the regimes apart). This is the
  common case: the graphs this engine canonicalizes (near-dup doc
  pairs, entity duplicate pairs) have hundreds to thousands of edges,
  where the distributed fixpoint's cost is its per-job floor, not data.
* above ``GATE`` — the distributed regime: the alternating
  large-star/small-star algorithm (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) as plain DataFrame ops:

    large-star: for each node u, attach every strictly-larger neighbor v
                to u's minimum neighbor m (including u): emit (v, m) for
                v > u
    small-star: attach u's minimum neighbor-or-self m to every neighbor
                v ≤ u (v ≠ m): emit (v, m), plus (u, m)

  iterated to fixpoint. Each iteration is two shuffles on node id;
  `localCheckpoint` truncates the growing lineage. Hub components
  concentrate on their minimum node; large-star halves long chains
  logarithmically and AQE skew-join splitting handles the residual hot
  keys, so convergence is O(log n) iterations.

``GATE`` is sized from random graphs of 36-character ids with N
undirected edges (2N edge rows) on a 4-core host, local[4], 3 GB heap
(``python scripts/cc_gate.py``):

  N     whole call: driver   distributed       driver collect + union-find
                                                + Arrow build, driver RSS
  10^4   2.4 s,  4 jobs       16.3 s, 101 jobs   0.1 s,  +11 MB Python
  10^5   2.2 s,  4 jobs       29.0 s, 114 jobs   1.0 s,   +7 MB Python
  10^6  10.8 s,  4 jobs      177.9 s, 117 jobs   8.9 s, +188 MB Python,
                                                        +0.86 GB JVM

The driver regime wins at every size measured; what bounds it is driver
memory, which grows linearly (~100 MB Python and 0.4-0.6 GB transient
JVM heap per million edge rows; a repeat draw measured +1.25 GB JVM at
10^6). The gate sits at one million edge rows, well inside a default
driver heap; above it the wasted collect costs about a second against
a fixpoint of minutes.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GATE = 1_000_000  # symmetrized edge rows; sized in the module docstring


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """(src, dst) → the distinct directed edges (u, v) and (v, u) of
    every non-loop pair. One generator emits both directions, so the
    input plan is read once; a union of the pairs with their reversal
    would run the whole pair plan (join, dedup, verify) twice."""
    both = F.array(
        F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
        F.struct(F.col("dst").alias("u"), F.col("src").alias("v")),
    )
    return (
        pairs.filter(F.col("src") != F.col("dst"))
        .select(F.inline(both))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) symmetric → for each u: m = min(N(u) ∪ {u}); emit (v, m) for
    every neighbor v > u."""
    nbr_min = edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        edges.join(nbr_min, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to (larger → smaller), then per node u link all small
    neighbors (and u) to the minimum."""
    oriented = edges.filter(F.col("v") < F.col("u"))  # u > v: u's smaller nbrs
    nbr_min = oriented.groupBy("u").agg(F.min("v").alias("m"))
    link_nbrs = (
        oriented.join(nbr_min, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    link_self = nbr_min.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        link_nbrs.union(link_self)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _driver_components(spark, edges: pa.Table) -> DataFrame:
    """Min-root union-find over a collected symmetric edge table.

    Node ids are sorted (Arrow's binary order is Spark's string order),
    so the smallest index of a component is its minimum id and union
    by smaller root yields the reference's min-uuid canonical directly.
    """
    keep = pc.less(edges["u"], edges["v"])  # each undirected edge once
    u, v = pc.filter(edges["u"], keep), pc.filter(edges["v"], keep)
    nodes = pc.unique(pa.chunked_array(u.chunks + v.chunks))
    nodes = nodes.take(pc.sort_indices(nodes))
    parent = list(range(len(nodes)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(
        pc.index_in(u, value_set=nodes).to_pylist(),
        pc.index_in(v, value_set=nodes).to_pylist(),
    ):
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    roots = pa.array([find(x) for x in range(len(nodes))], pa.int64())
    return spark.createDataFrame(
        pa.table({"uuid": nodes, "canonical_uuid": nodes.take(roots)})
    )


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """pairs(src, dst) undirected → (uuid, canonical_uuid) for every node
    appearing in pairs, canonical = min id in its component.

    Isolated nodes (not in pairs) are absent; callers coalesce(canonical,
    own) after a left join — same contract as the reference's uuid_map.
    """
    # Materialize the (possibly expensive) pair plan EXACTLY ONCE before
    # anything reads it: probing an unpersisted caller's pair pipeline
    # and then checkpointing it evaluated that pipeline twice (the
    # curation funnel measured its 83 s MinHash stage 2x). _symmetrize
    # reads its input once, so the checkpoint runs the plan once.
    edges = _symmetrize(
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint(eager=True)
    spark = pairs.sparkSession
    # One bounded collect decides the regime. toArrow over a limit is a
    # single job whatever the partition count (collect()/take() scan
    # partitions incrementally, one job per round).
    head = edges.limit(GATE + 1).toArrow()
    if head.num_rows == 0:
        # An empty local relation, not spark.range(0): Catalyst proves it
        # empty at plan time, so a caller's left join onto the mapping
        # plans away (a Range(0) side still runs its broadcast job). The
        # Arrow path builds no Python-RDD plan, unlike createDataFrame([]).
        empty = pa.array([], pa.string())
        return spark.createDataFrame(
            pa.table({"uuid": empty, "canonical_uuid": empty})
        )
    if head.num_rows <= GATE:
        return _driver_components(spark, head)

    def _fingerprint(df: DataFrame) -> tuple:
        """(row count, order-insensitive hash-sum) — one cheap agg job per
        iteration instead of two exceptAll scans for convergence testing."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: xxhash64 sums overflow long under ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    current = edges  # already checkpointed above
    prev_fp = _fingerprint(current)
    for _ in range(max_iterations):
        ls_sym = _symmetrize(_large_star(current))
        nxt = _symmetrize(_small_star(ls_sym)).localCheckpoint(eager=True)
        fp = _fingerprint(nxt)
        current = nxt
        if fp == prev_fp:
            break
        prev_fp = fp

    # After convergence each edge links a node to its component minimum.
    members = current.groupBy("u").agg(F.min("v").alias("m"))
    mapping = members.select(
        F.col("u").alias("uuid"),
        F.least(F.col("m"), F.col("u")).alias("canonical_uuid"),
    )
    return mapping
