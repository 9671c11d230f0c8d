"""Cosine similarity search (SURVEY.md Q3) + ANN variants.

Reference: per-row cosine(query, embedding) > min_score ORDER BY score
LIMIT (`edge_similarity_search` /root/reference/graphiti_core/search/
search_utils.py:285-430, min score 0.6 at :64). Here:

  - ``cosine_topk``     exact brute force — one codegen'd scan, no UDF;
                        correct baseline at any k, O(n·dim) per query.
  - ``cosine_topk_lsh`` random-hyperplane LSH bucketing — the scale path:
                        candidates restricted to query's buckets, so a
                        1000-executor cluster scans a small fraction of
                        rows. Recall <1.0 by construction (tested ≥0.6
                        vs brute force at 16 tables × 8 bits).
  - ``cosine_topk_ivf`` inverted-file (IVF) cells — the other classic ANN
                        scale path: vectors are assigned once to their
                        nearest of ``n_cells`` deterministic centroids;
                        a query scans only its ``n_probe`` nearest cells.
                        At cluster scale the assignment is a build-once
                        table partitioned by ``cell`` (ivf_assign), so a
                        query touches n_probe partitions instead of the
                        corpus.

Both keep scores in IEEE double and round to 4 dp before ranking so
result order is engine-reproducible (ties broken by id).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphiti_spark.functions.embed import cosine_col
from graphiti_spark.functions.smalldf import literal_df
from graphiti_spark.operators.blocking import capped_groups

DEFAULT_MIN_SCORE = 0.6  # reference search_utils.py:64


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    limit: int = 10,
    min_score: float | None = None,
) -> DataFrame:
    """Exact top-k by cosine. Output (id, score, rank)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col).alias("id"),
        F.round(cosine_col(F.col(vec_col), q), 4).alias("score"),
    )
    if min_score is not None:
        scored = scored.filter(F.col("score") > min_score)
    top = scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(limit)
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    return top.select("id", "score", F.row_number().over(w).alias("rank"))


def community_similarity_search(
    communities: DataFrame,
    query_vec: list[float],
    limit: int = 10,
    min_score: float | None = DEFAULT_MIN_SCORE,
) -> DataFrame:
    """Cosine search over community ``name_embedding`` (reference
    community_similarity_search, /root/reference/graphiti_core/search/
    search_utils.py:1022-1129: vector similarity over CommunityNode
    name embeddings, score > min_score, top ``limit``). The communities
    table carries the embedding column (built by
    operators.communities.build_communities), so this is one codegen'd
    scan — same engine as every other channel. Output (id, score,
    rank)."""
    return cosine_topk(
        communities,
        query_vec,
        id_col="uuid",
        vec_col="name_embedding",
        limit=limit,
        min_score=min_score,
    )


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from a hash chain
    (no RNG state — reproducible across runs/machines).

    Component i = first 13 hex chars (52 bits) of sha256("lsh:seed:i"),
    mapped to [-1, 1). 52 bits fit a double exactly and the /2^52, *2,
    -1 steps are all IEEE-exact, so DuckDB recomputes the identical
    value from its own sha256 — which makes the ANN-LSH oracle fully
    hash-verifiable (same trick as the r3 simhash re-key)."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.sha256(f"lsh:{seed}:{i}".encode()).hexdigest()[:13]
        out.append((int(h, 16) / 2**52) * 2.0 - 1.0)
    return out


def lsh_bucket_col(vec_col, dim: int, n_bits: int, table: int):
    """Sign-bit bucket id for one LSH table: n_bits random hyperplanes,
    bucket = bit-packed signs — pure column expressions."""
    bucket = F.lit(0)
    for bit in range(n_bits):
        plane = _hyperplane(table * 1000 + bit, dim)
        dot = F.aggregate(
            F.zip_with(
                F.transform(vec_col, lambda x: x.cast("double")),
                F.array(*[F.lit(p) for p in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << bit)).otherwise(F.lit(0))
    return bucket


def ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
) -> DataFrame:
    """Deterministic IVF centroid pick: the ``n_cells`` rows whose
    sha256(CAST(id AS STRING)) is smallest — a content-derived uniform
    sample with no RNG state, so reruns (and the DuckDB oracle) select
    identical centroids. Output (cid, cvec double[]).

    A k-means refinement would tighten cells but costs iterations and is
    seed-dependent; hash-sampled centroids keep the index reproducible,
    which this engine values over the last few recall points (swap in
    k-means offline if needed — the probe/assign contract is unchanged).
    """
    return (
        df.select(
            F.col(id_col).alias("cid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
            F.sha2(F.col(id_col).cast("string"), 256).alias("_h"),
        )
        .orderBy("_h", "cid")
        .limit(n_cells)
        .drop("_h")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (ties →
    min cid). Output (id, vec, cell).

    Broadcast cross join against the tiny centroid frame, then a
    map-side-combinable min(struct) argmax — no window sort over the
    corpus. ``+ 0.0`` twice normalizes IEEE −0.0 so the struct ordering
    matches the oracle's ORDER BY s DESC, cid ASC bit-for-bit. At 100 TB
    this runs once at build time; materialize the result partitioned by
    ``cell`` so queries prune to their probe cells."""
    scored = df.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col("cid"),
        # neg-score so min(struct) = (max score, then MIN cid on ties)
        (
            -(cosine_col(F.col(vec_col), F.col("cvec")) + F.lit(0.0))
            + F.lit(0.0)
        ).alias("ns"),
    )
    return (
        scored.groupBy("id")
        .agg(
            F.min(F.struct("ns", "cid")).alias("best"),
            F.first("vec").alias("vec"),  # all copies identical per id
        )
        .select("id", "vec", F.col("best.cid").alias("cell"))
    )


def cosine_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    limit: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    assigned: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: scan only the ``n_probe`` cells whose
    centroids are nearest the query, then exact cosine over candidates.

    Pass a prebuilt (``centroids``, ``assigned``) pair to skip the
    build-time work (the cluster-scale calling convention); otherwise
    both are derived from ``df`` inline.

    The probe scores are computed driver-side with a left-to-right
    double fold — the same IEEE evaluation order as cosine_col's
    F.aggregate and DuckDB's list_inner_product, so all three engines
    select identical probe cells (ties broken by cid)."""
    if centroids is None:
        centroids = ivf_centroids(df, id_col, vec_col, n_cells)
    # The probe scores need the centroid rows driver-side anyway, so
    # collect ONCE (bounded by n_cells, not data) and, when the inline
    # assign still has to run, rebuild the centroid relation as a
    # Catalyst literal — otherwise the centroid plan (a full corpus
    # scan + TakeOrdered) would execute a second time inside
    # ivf_assign's broadcast.
    cent_rows = centroids.collect()
    if assigned is None:
        cid_t = centroids.schema["cid"].dataType.simpleString()
        cent_lit = literal_df(
            df.sparkSession,
            [(r["cid"], [float(x) for x in r["cvec"]]) for r in cent_rows],
            [("cid", cid_t), ("cvec", "array<double>")],
        )
        assigned = ivf_assign(df, cent_lit, id_col, vec_col)

    probe_cells = _probe_cells(cent_rows, query_vec, n_probe)
    candidates = assigned.filter(F.col("cell").isin(probe_cells)).select(
        "id", "vec"
    )
    return cosine_topk(
        candidates, query_vec, id_col="id", vec_col="vec", limit=limit
    )


def _fold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _probe_cells(cent_rows, query_vec, n_probe: int) -> list:
    """The ``n_probe`` centroid ids nearest the query by cosine,
    computed driver-side with a left-to-right double fold — the same
    IEEE evaluation order as cosine_col's F.aggregate and DuckDB's
    list_inner_product, so all three engines select identical probe
    cells (ties broken by cid)."""
    qd = [float(x) for x in query_vec]
    qn = math.sqrt(_fold_dot(qd, qd))
    probes = []
    for row in cent_rows:
        cv = [float(x) for x in row["cvec"]]
        cn = math.sqrt(_fold_dot(cv, cv))
        s = 0.0 if qn == 0 or cn == 0 else _fold_dot(qd, cv) / (qn * cn)
        probes.append((s + 0.0, row["cid"]))
    probes.sort(key=lambda t: (-t[0], t[1]))
    return [cid for _, cid in probes[:n_probe]]


def cosine_topk_ivf_quantized(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    limit: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    bits: int = 8,
    assigned_q: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k over the int8-QUANTIZED index — the bandwidth lever
    functions/quantize.py motivates, wired end-to-end (VERDICT r03 next
    #6): the probe-cell scan reads int codes + two doubles per vector
    (~4× fewer bytes than float32 at bits=8), dequantizes in-flight
    (pure codegen, no UDF), and scores cosine in double.

    Build-time (once per corpus): assignment runs on the FULL-PRECISION
    vectors — cell quality is not degraded by quantization — and the
    index table stores only (id, cell, q, vmin, scale), partitioned by
    ``cell`` at cluster scale. Query-time accuracy is bounded by the
    reconstruction rmse (quantize_embeddings surfaces it); exact
    re-scoring of the returned top-k against the float column is one
    k-row join if a caller needs true scores.

    Pass a prebuilt (``centroids``, ``assigned_q``) pair to skip the
    build (the cluster calling convention); otherwise derived inline.
    """
    from graphiti_spark.functions.quantize import (
        dequantize_col,
        quantize_embeddings,
    )

    if centroids is None:
        centroids = ivf_centroids(df, id_col, vec_col, n_cells)
    cent_rows = centroids.collect()
    if assigned_q is None:
        cid_t = centroids.schema["cid"].dataType.simpleString()
        cent_lit = literal_df(
            df.sparkSession,
            [(r["cid"], [float(x) for x in r["cvec"]]) for r in cent_rows],
            [("cid", cid_t), ("cvec", "array<double>")],
        )
        assigned = ivf_assign(df, cent_lit, id_col, vec_col)
        codes = quantize_embeddings(df, id_col, vec_col, bits)
        assigned_q = assigned.select("id", "cell").join(codes, "id")

    probe_cells = _probe_cells(cent_rows, query_vec, n_probe)
    candidates = assigned_q.filter(F.col("cell").isin(probe_cells)).select(
        "id",
        dequantize_col(F.col("q"), F.col("vmin"), F.col("scale")).alias("vec"),
    )
    return cosine_topk(
        candidates, query_vec, id_col="id", vec_col="vec", limit=limit
    )


def cosine_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    limit: int = 10,
    n_tables: int = 16,
    n_bits: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign-bucket in any
    of ``n_tables`` hyperplane tables, then exact cosine over candidates.

    The bucket explode is the blocking shuffle (same shape as MinHash-LSH
    dedup); at cluster scale the bucketed table is precomputed once and
    partitioned by (table, bucket) so a query touches n_tables partitions.

    Exactly the n_probe_bits=0 case of the multiprobe form — one
    candidate-generation path to maintain (query dots via the explicit
    left-to-right fold, matching DuckDB's list_inner_product signs
    bit-for-bit).
    """
    return cosine_topk_lsh_multiprobe(
        df, query_vec, id_col, vec_col, limit, n_tables, n_bits,
        n_probe_bits=0,
    )


def cosine_topk_lsh_multiprobe(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    limit: int = 10,
    n_tables: int = 8,
    n_bits: int = 8,
    n_probe_bits: int = 2,
) -> DataFrame:
    """Multi-probe LSH (Lv et al. VLDB 2007 shape): besides the query's
    own sign bucket, each table also probes the buckets reached by
    flipping the ``n_probe_bits`` hyperplane bits whose query dot sits
    closest to 0 — the boundary bits a near neighbour most likely
    landed across. Recall of ~2× the tables at the cost of ≤
    (1 + n_probe_bits) bucket lookups per table, no extra index.

    The candidate set is a SUPERSET of the single-probe set by
    construction (law-tested). All query-side dots use the explicit
    left-to-right double fold (_fold_dot) so the flip choice — an
    ORDERING on |dot|, more ulp-sensitive than the sign — is
    bit-identical to DuckDB's list_inner_product."""
    dim = len(query_vec)
    qd = [float(x) for x in query_vec]
    probes = []
    for t in range(n_tables):
        dots = []
        for bit in range(n_bits):
            plane = _hyperplane(t * 1000 + bit, dim)
            dots.append(_fold_dot(qd, plane))
        base = sum(1 << b for b, d in enumerate(dots) if d >= 0)
        probes.append((t, base))
        flip_order = sorted(range(n_bits), key=lambda b: (abs(dots[b]), b))
        for b in flip_order[:n_probe_bits]:
            probes.append((t, base ^ (1 << b)))
    probes = sorted(set(probes))

    tagged = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        lsh_bucket_col(
                            F.col(vec_col), dim, n_bits, t
                        ).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    )
    from graphiti_spark.functions.smalldf import literal_df

    qdf = literal_df(
        df.sparkSession, probes, [("table", "int"), ("bucket", "int")]
    )
    candidates = (
        tagged.select(
            "id", "vec",
            F.col("tb.table").alias("table"),
            F.col("tb.bucket").alias("bucket"),
        )
        .join(F.broadcast(qdf), ["table", "bucket"])
        .select("id", "vec")
        # vec is functionally dependent on id: distinct over both stays
        # a HashAggregate (dropDuplicates(["id"]) + first(vec) would
        # compile to a SortAggregate — the measured repo anti-pattern)
        .distinct()
    )
    return cosine_topk(
        candidates, query_vec, id_col="id", vec_col="vec", limit=limit
    )


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    centroids: DataFrame | None = None,
    max_cell: int | None = None,
    dropped_sink: list | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbour graph: every vector's top-k
    neighbours by cosine WITHIN ITS IVF CELL (the SemDeDup bounding —
    cells cap the quadratic, so the pair stage is Σ|cell|², never n²).
    Output directed edges (id, nbr, cos) with cos rounded 4 dp first,
    ties (cos desc, nbr asc). Pass kmeans_lloyd output as ``centroids``
    for trained cells; vectors alone in their cell emit no edges.

    ``max_cell`` bounds the within-cell self-join against centroid
    skew: cells above it emit no edges and are surfaced through
    ``dropped_sink`` (a list the (cell, cell_n) metrics DataFrame of
    blocking.capped_groups is appended to).
    Default None preserves the uncapped oracle semantics.

    The kNN graph is the substrate for mutual-NN clustering,
    agglomerative dedup, and graph-based label propagation over
    embeddings."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(df, id_col, vec_col, n_cells)
    )
    assigned = ivf_assign(df, cents, id_col, vec_col)
    if max_cell is not None:
        kept_cells, dropped = capped_groups(assigned, ["cell"], max_cell, "cell_n")
        assigned = assigned.join(kept_cells, ["cell"])
        if dropped_sink is not None:
            dropped_sink.append(dropped)
    a = assigned.select(
        "cell", F.col("id").alias("a_id"), F.col("vec").alias("a_vec")
    )
    b = assigned.select(
        "cell", F.col("id").alias("b_id"), F.col("vec").alias("b_vec")
    )
    pairs = a.join(b, "cell").filter(F.col("a_id") != F.col("b_id"))
    scored = pairs.select(
        F.col("a_id").alias("id"),
        F.col("b_id").alias("nbr"),
        (
            F.round(cosine_col(F.col("a_vec"), F.col("b_vec")), 4)
            + F.lit(0.0)
        ).alias("cos"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("cos").desc(), F.col("nbr").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def mutual_nn_pairs(knn: DataFrame) -> DataFrame:
    """Mutual nearest neighbours from a kNN graph: (a_id, b_id, cos)
    with a_id < b_id where BOTH directions are in each other's top-k —
    the classic high-precision merge signal (reciprocal-NN
    agglomeration). One self-join on the reversed edge."""
    fwd = knn.select(
        F.col("id").alias("a_id"), F.col("nbr").alias("b_id"), "cos"
    ).filter(F.col("a_id") < F.col("b_id"))
    rev = knn.select(
        F.col("nbr").alias("a_id"), F.col("id").alias("b_id")
    ).filter(F.col("a_id") < F.col("b_id"))
    return fwd.join(rev, ["a_id", "b_id"]).select("a_id", "b_id", "cos")
