"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline. Dot products via
  ``F.zip_with`` + ``F.aggregate`` (JVM expressions) — no Python per row.
- LSH-bucketed ANN (signed random projections): the scale path. Hyperplanes
  are a tiny deterministic matrix broadcast as literals; bucket = sign
  pattern; candidates searched within matching buckets only.
- embedding-cosine near-duplicate pairs: SRP blocking + exact verify.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


# -- unrolled (codegen) variants --------------------------------------------
#
# Higher-order functions (aggregate/zip_with) are evaluated INTERPRETED —
# Catalyst never compiles the lambda body — so a 64-dim dot product costs
# ~64 boxed lambda invocations per pair. When the dimension is known at
# plan time, the same fold unrolls into a flat codegen'd arithmetic chain:
# 0.0 + a[0]*b[0] + a[1]*b[1] + ... — parsed left-associative, which is
# EXACTLY the HOF fold order (acc seeded 0.0), so the result is
# bit-identical; the 0.0 seed is kept for the -0.0 corner. Rows whose
# array size differs from ``dim`` fall back to the HOF form via a guard
# (CASE branches evaluate lazily), preserving NULL/short-array semantics.


def _chain_add(seed: Column, terms: list[Column]) -> Column:
    out = seed
    for t in terms:
        out = out + t
    return out


def _dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    return _chain_add(
        F.lit(0.0).cast("double"),
        [F.get(a, i) * F.get(b, i) for i in range(dim)],
    )


def _norm_unrolled(a: Column, dim: int) -> Column:
    return F.sqrt(
        _chain_add(
            F.lit(0.0).cast("double"),
            [F.get(a, i) * F.get(a, i) for i in range(dim)],
        )
    )


# -- SQL-fragment builders for the unrolled forms ----------------------------
#
# Building the 64-dim chains via Column operators costs ~0.3-0.7s of DRIVER
# time per call site (every operator is an eager py4j round-trip); parsing
# ONE SQL string with the identical left-associative structure costs ~2ms
# and yields a bit-identical expression tree (verified get()-vs-expr on
# packed doubles). Fragments take column NAMES / SQL fragments, so there is
# no lossy Column -> SQL conversion anywhere; float literals render with
# Python repr (shortest round-trip) + 'D', which Spark's parser reads back
# as the exact same double.


def _float_lit_sql(x: float) -> str:
    return repr(float(x)) + "D"


def _array_lit_sql(vals: list[float]) -> str:
    # NaN/Inf have no SQL double literal (repr renders nanD/infD, a
    # ParseException deep in plan construction): reject them here
    if not all(math.isfinite(v) for v in vals):
        raise ValueError("query_vector must contain only finite values (no NaN or +/-Inf)")
    return "array(" + ", ".join(_float_lit_sql(v) for v in vals) + ")"


def _dot_sql_frag(a: str, b: str, dim: int) -> str:
    return "CAST(0.0 AS DOUBLE) + " + " + ".join(
        f"get({a}, {i}) * get({b}, {i})" for i in range(dim)
    )


def _norm_sql_frag(a: str, dim: int) -> str:
    return (
        "sqrt(CAST(0.0 AS DOUBLE) + "
        + " + ".join(f"get({a}, {i}) * get({a}, {i})" for i in range(dim))
        + ")"
    )


def _dot_hof_frag(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_hof_frag(a: str) -> str:
    return f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v))"


def cosine_sql(a: str, b: str, dim: int) -> Column:
    """Guarded unrolled cosine over two SQL fragments (usually column
    names): same guarded shape as ``cosine_col(..., dim=...)`` — codegen'd
    unrolled chain when both sizes match ``dim``, interpreted HOF fallback
    otherwise — built as one parsed expression instead of ~6*dim py4j
    round-trips. Bit-identical to the Column form."""
    fast = (
        f"({_dot_sql_frag(a, b, dim)}) / "
        f"({_norm_sql_frag(a, dim)} * {_norm_sql_frag(b, dim)})"
    )
    hof = (
        f"{_dot_hof_frag(a, b)} / ({_norm_hof_frag(a)} * {_norm_hof_frag(b)})"
    )
    return F.expr(
        f"CASE WHEN size({a}) = {dim} AND size({b}) = {dim} "
        f"THEN {fast} ELSE {hof} END"
    )


def cosine_col(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity; pass ``dim`` when the vector length is known at
    plan time to run the codegen'd unrolled form (bit-identical — see the
    unrolled-variant note above) instead of interpreted HOFs."""
    hof = _dot(a, b) / (_norm(a) * _norm(b))
    if dim is None:
        return hof
    fast = _dot_unrolled(a, b, dim) / (_norm_unrolled(a, dim) * _norm_unrolled(b, dim))
    return F.when((F.size(a) == dim) & (F.size(b) == dim), fast).otherwise(hof)


def cosine_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine against one query vector: one scan, one
    projection per row, global top-k via orderBy+limit (Spark executes it as
    per-partition TakeOrdered + driver merge — no full sort shuffle)."""
    # one parsed guarded-cosine expression over a named projection of the
    # cast vector and the exact query literal (see cosine_sql) — same
    # values, ~2 orders of magnitude less plan-construction latency
    q_sql = _array_lit_sql([float(x) for x in query_vector])
    vec = F.col(vec_col).cast("array<double>")
    return (
        df.select(F.col(id_col), vec.alias("__v"))
        .select(
            F.col(id_col),
            F.round(cosine_sql("__v", q_sql, len(query_vector)), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG -> Box-Muller);
    pure Python at plan time, shipped as literals."""
    state = seed & 0x7FFFFFFF

    def rand() -> float:
        nonlocal state
        state = (1103515245 * state + 12345) % (1 << 31)
        return state / float(1 << 31)

    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            u1 = max(rand(), 1e-12)
            u2 = rand()
            v.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.pi * u2))
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def srp_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id: bit i = sign(v . plane_i).

    NOTE: deliberately NOT unrolled like the pair-cosine fast path — an
    n_planes x dim unrolled chain (12x64 = ~1.5k expression nodes)
    measured 2.5x SLOWER than the compact HOF loop (same codegen-fallback
    pathology as nearest_centroid_col; see that note)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(vec, p) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def ann_topk_lsh(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict the scan to vectors whose SRP bucket is
    within Hamming distance 1 of the query's bucket, then exact cosine.
    At scale the bucket column is precomputed/partitioned, turning this
    into a partition-pruned read of ~ (n_planes+1)/2^n_planes of the data."""
    dim = len(query_vector)
    planes = _hyperplanes(dim, n_planes, seed)
    vec = F.col(vec_col).cast("array<double>")
    q_bits = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vector, plane)) >= 0:
            q_bits |= 1 << i
    near_buckets = [q_bits] + [q_bits ^ (1 << i) for i in range(n_planes)]
    bucketed = df.withColumn("__bucket", srp_bucket_col(vec, planes))
    q_sql = _array_lit_sql([float(x) for x in query_vector])
    return (
        bucketed.filter(F.col("__bucket").isin(near_buckets))
        .select(F.col(id_col), vec.alias("__v"))
        .select(
            F.col(id_col), F.round(cosine_sql("__v", q_sql, dim), 6).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    dim: int | None = None,
    n_seeds: int = 1,
    max_bucket_size: int = 2000,
    persisted_frames: list | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: SRP-bucket blocking (equal
    bucket -> candidate) + exact cosine verify.

    Recall: a single plane set misses a 0.95-cosine pair with probability
    1 - (1 - theta/pi)^n_planes per plane family; ``n_seeds > 1`` unions
    candidates from several independent plane sets (seed, seed+1, ...),
    driving the miss rate down exponentially while the verify step keeps
    precision exact.

    Shuffle discipline (same as MinHash-LSH): the blocking join shuffles
    only (id, seed, bucket) — never the vectors, which would be duplicated
    x n_seeds; vectors join back keyed for the exact-cosine verify, from a
    persisted narrow (id, v) projection (session-lived cache entry unless
    the caller passes ``persisted_frames`` and unpersists after consuming
    the result).

    ``max_bucket_size``: degenerate-bucket guard (same stop-bucket semi-join
    as MinHash-LSH). Real embedding spaces are clustered — one hot SRP
    bucket can hold a large fraction of all vectors and explode into O(n^2)
    candidate pairs before the verify step; buckets above the cap are
    dropped. Raise ``n_planes`` (finer buckets) or pre-dedupe exact
    duplicates if capped buckets carry wanted pairs.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    vec = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("id"), vec.alias("v")).persist()
    if persisted_frames is not None:
        persisted_frames.append(base)
    bucket_structs = [
        F.struct(
            F.lit(s).alias("s"),
            srp_bucket_col(F.col("v"), _hyperplanes(dim, n_planes, seed + s)).alias("b"),
        )
        for s in range(n_seeds)
    ]
    banded = base.select(
        "id", F.explode(F.array(*bucket_structs)).alias("sb")
    ).select("id", "sb.s", "sb.b")
    bucket_sizes = banded.groupBy("s", "b").agg(F.count(F.lit(1)).alias("bs"))
    banded = banded.join(
        bucket_sizes.filter(F.col("bs") <= max_bucket_size).select("s", "b"),
        on=["s", "b"],
        how="left_semi",
    )
    a = banded.select("s", "b", F.col("id").alias("id_a"))
    b = banded.select("s", "b", F.col("id").alias("id_b"))
    cand = (
        a.join(b, on=["s", "b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cosine_sql("v_a", "v_b", dim), 6))
        .filter(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )


# --------------------------------------------------------------------------
# persisted indexes — the scale path proper
def semantic_cluster_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.9,
    n_centroids: int = 16,
    n_iters: int = 2,
    init: str = "kmeans||",
    seed: int = 42,
    max_cluster_size: int = 10_000,
    round_digits: int = 6,
    persisted_frames: list | None = None,
) -> DataFrame:
    """SemDeDup-style candidate pairs (Abbas et al. 2023): k-means the
    embedding space, then compute exact cosine ONLY within each cluster —
    semantically-near documents land in the same cluster, so the
    all-pairs O(n^2) collapses to sum of per-cluster quadratics
    (~n^2/k for balanced clusters). The complement of SRP blocking
    (`embedding_near_duplicates`): data-adaptive regions instead of
    fixed random hyperplanes.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine rounded to
    ``round_digits`` BEFORE the threshold compare (cross-engine float
    parity — summation order differs between engines below that digit).

    Shuffle discipline (same as the other blocking families): clustering
    assignment is a map-only projection against driver-held centroids (no
    vector shuffle); the blocking join shuffles only (id, cid); vectors
    join back keyed for the exact-cosine verify. ``max_cluster_size`` is
    the degenerate-cluster guard — a collapsed k-means (all mass in one
    centroid) would otherwise regrow the O(n^2) this operator exists to
    avoid; raise ``n_centroids`` if capped clusters carry wanted pairs.
    NOTE ``n_centroids=1`` intentionally degenerates to brute-force
    all-pairs — the driver oracle certifies the full pipeline through
    that setting (same probe-all trick as `ann_ivf`), per-cluster
    restriction is covered by plan/invariant tests."""
    centroids = _kmeans_centroids(
        df, vec_col, n_centroids, n_iters, id_col, init, seed
    )
    dim = len(centroids[0]) if centroids and centroids[0] else None
    vec = F.col(vec_col).cast("array<double>")
    # per-id norm precomputed ONCE in the cached base (guarded unrolled
    # expression — value identical to the per-pair HOF norm, see the
    # unrolled-variant note): the exact-cosine verify is quadratic in
    # cluster size, so norms computed per PAIR would redo each row's norm
    # O(cluster size) times
    nrm = (
        F.expr(
            f"CASE WHEN size(v) = {dim} THEN {_norm_sql_frag('v', dim)} "
            f"ELSE {_norm_hof_frag('v')} END"
        )
        if dim
        else _norm(F.col("v"))
    )
    base = (
        df.select(F.col(id_col).alias("id"), vec.alias("v"))
        .withColumn("nrm", nrm)
        .persist()
    )
    if persisted_frames is not None:
        persisted_frames.append(base)
    assigned = base.select(
        "id", nearest_centroid_col("v", centroids).alias("cid")
    )
    sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("cs"))
    assigned = assigned.join(
        sizes.filter(F.col("cs") <= max_cluster_size).select("cid"),
        on="cid",
        how="left_semi",
    )
    a = assigned.select("cid", F.col("id").alias("id_a"))
    b = assigned.select("cid", F.col("id").alias("id_b"))
    cand = (
        a.join(b, on="cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    va = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a")
    )
    # cosine = dot / (nrm_a * nrm_b): the norms come from the cached base
    # (computed once per id), the dot from the unrolled codegen chain;
    # division/multiplication order matches cosine_col exactly, so the
    # rounded value is bit-identical to the HOF form
    vb = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b")
    )
    if dim:
        cos = F.expr(
            f"CASE WHEN size(v_a) = {dim} AND size(v_b) = {dim} "
            f"THEN ({_dot_sql_frag('v_a', 'v_b', dim)}) / (n_a * n_b) "
            f"ELSE {_dot_hof_frag('v_a', 'v_b')} / "
            f"({_norm_hof_frag('v_a')} * {_norm_hof_frag('v_b')}) END"
        )
    else:
        cos = cosine_col(F.col("v_a"), F.col("v_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cos, round_digits))
        .filter(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.9,
    n_centroids: int = 16,
    n_iters: int = 2,
    init: str = "kmeans||",
    seed: int = 42,
    max_cluster_size: int = 10_000,
    keep: str = "min_id",
    score_col: str | None = None,
    round_digits: int = 6,
    persisted_frames: list | None = None,
) -> DataFrame:
    """One-call SemDeDup: cluster-blocked cosine pairs -> connected
    components -> keep one representative per semantic cluster
    (``keep="min_id"`` or ``keep="best"`` with ``score_col``). Rows in
    no pair survive untouched. See `semantic_cluster_pairs` for the
    blocking semantics and `dedup.drop_near_duplicates` for the keeper
    selection."""
    from .dedup import drop_near_duplicates

    pairs = semantic_cluster_pairs(
        df,
        id_col,
        vec_col,
        cosine_threshold,
        n_centroids,
        n_iters,
        init,
        seed,
        max_cluster_size,
        round_digits,
        persisted_frames,
    )
    return drop_near_duplicates(
        df,
        pairs,
        id_col=id_col,
        keep=keep,
        score_col=score_col,
        persisted_frames=persisted_frames,
    )


# --------------------------------------------------------------------------
#
# ``ann_topk_lsh`` recomputes every vector's bucket per query (full scan).
# Fine for one-off queries; wrong for a query SERVICE over 100 TB of
# embeddings. The index variants below materialize the bucket assignment
# once, partitioned by bucket, so each query is a partition-pruned read of
# ~(hamming_ball / 2^n_planes) (SRP) or ~(n_probes / n_centroids) (IVF) of
# the data — verified by PartitionFilters in the scan's explain output.


def build_srp_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    fmt: str = "parquet",
    dim: int | None = None,
) -> str:
    """Materialize the SRP bucket index: one scan, written partitioned by
    bucket (2^n_planes partitions — keep n_planes <= ~12)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    vec = F.col(vec_col).cast("array<double>")
    (
        df.select(
            F.col(id_col), F.col(vec_col), srp_bucket_col(vec, planes).alias("bucket")
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .format(fmt)
        .save(path)
    )
    return path


def ann_topk_srp_indexed(
    spark,
    index_path: str,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    max_hamming: int = 1,
    fmt: str = "parquet",
    n_probes: int | None = None,
) -> DataFrame:
    """Top-k against a persisted SRP index: the bucket IN-list hits the
    partition column, so the scan reads only the matching bucket directories
    (partition pruning — no full-data scan per query).

    Probe selection: ``n_probes`` (when set) picks that many buckets by
    MULTIPROBE order — flip sets ranked by the summed |margin| of the
    flipped hyperplanes (a near-zero dot product means the true neighbors
    straddle that plane, so flipping it first recovers the most recall per
    extra bucket; Lv et al., multi-probe LSH). ``max_hamming`` (legacy)
    probes the full blind Hamming ball instead — 1 + C(n,1) + ... buckets
    regardless of which planes are actually uncertain."""
    dim = len(query_vector)
    planes = _hyperplanes(dim, n_planes, seed)
    q_bits = 0
    margins: list[float] = []
    for i, plane in enumerate(planes):
        dot = sum(a * b for a, b in zip(query_vector, plane))
        margins.append(abs(dot))
        if dot >= 0:
            q_bits |= 1 << i
    if n_probes is not None:
        near = multiprobe_buckets(q_bits, margins, n_probes)
    else:
        near = [
            b
            for b in range(1 << n_planes)
            if bin(b ^ q_bits).count("1") <= max_hamming
        ]
    q_sql = _array_lit_sql([float(x) for x in query_vector])
    vec = F.col(vec_col).cast("array<double>")
    return (
        spark.read.format(fmt)
        .load(index_path)
        .filter(F.col("bucket").isin(near))
        .select(F.col(id_col), vec.alias("__v"))
        .select(
            F.col(id_col),
            F.round(cosine_sql("__v", q_sql, len(query_vector)), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def multiprobe_buckets(
    q_bits: int, margins: list[float], n_probes: int
) -> list[int]:
    """The ``n_probes`` most promising SRP buckets for a query: flip sets
    ordered by summed |margin| of the flipped planes (ascending — flip the
    most uncertain planes first). Driver-side best-first search over the
    flip-set lattice: O(n_probes log n_probes) heap pops, never enumerates
    2^n_planes."""
    import heapq

    n = len(margins)
    order = sorted(range(n), key=lambda i: margins[i])  # most uncertain first
    # heap entries: (cost, [indexes into `order` that are flipped])
    # start from flipping nothing; successor rule generates each flip set
    # exactly once (extend-last / replace-last, Lv et al.)
    out = [q_bits]
    if n_probes <= 1 or n == 0:
        return out[:n_probes] if n_probes >= 1 else out[:1]
    heap = [(margins[order[0]], (0,))]
    while heap and len(out) < n_probes:
        cost, flips = heapq.heappop(heap)
        bucket = q_bits
        for oi in flips:
            bucket ^= 1 << order[oi]
        out.append(bucket)
        last = flips[-1]
        if last + 1 < n:
            # replace-last: ...,last -> ...,last+1
            heapq.heappush(
                heap,
                (
                    cost - margins[order[last]] + margins[order[last + 1]],
                    flips[:-1] + (last + 1,),
                ),
            )
            # extend: ...,last -> ...,last,last+1
            heapq.heappush(
                heap,
                (cost + margins[order[last + 1]], flips + (last + 1,)),
            )
    return out


# ---- IVF (inverted-file) index: k-means coarse quantizer -------------------


# Column-expression assignment keeps this many literal doubles in the plan
# at most; larger quantizers switch to the Arrow-batched numpy kernel.
_EXPR_ASSIGN_MAX_LITERALS = 8192


def nearest_centroid_col(vec_sql: str, centroids: list[list[float]]):
    """Nearest-centroid id as a SHUFFLE-FREE projection over ``vec_sql``
    (a SQL expression of type array<double>).

    For small quantizers (n_centroids x dim <= ~8k literals) this is a pure
    Column expression — one squared-distance aggregate per centroid, argmin
    via ``array_position(d, array_min(d))`` — fully JVM-side/codegen.
    Distances are built as SQL text, not Python lambdas, so loop generation
    cannot collapse the per-centroid lambda variables (see STATUS pitfalls).

    Larger quantizers get a vectorized pandas UDF: the centroid matrix rides
    the serialized task closure once, batches are scored as one
    ``X@C.T``-style GEMM, argmin per row. Either way: no crossJoin, no
    shuffle — assignment is a map-only stage at any data size.

    Ties resolve to the lowest centroid id in both paths.
    """
    n_literals = len(centroids) * (len(centroids[0]) if centroids else 0)
    if n_literals <= _EXPR_ASSIGN_MAX_LITERALS:
        # NOTE: deliberately NOT unrolled like the pair-cosine fast path —
        # measured: a k x dim unrolled distance CASE (8x64 = ~4k expression
        # nodes) exceeds codegen limits and falls back to interpreted
        # evaluation of the giant tree, 5-6x SLOWER than the compact HOF
        # loop below (sf0.1 A/B: 0.35s vs 2.2s warm); the per-pair cosine
        # unrolls profitably because its tree is ~200 nodes
        dist_sqls = []
        for c in centroids:
            arr = "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            dist_sqls.append(
                f"aggregate(zip_with({vec_sql}, {arr},"
                " (x, y) -> (x - y) * (x - y)), 0.0D, (acc, d) -> acc + d)"
            )
        ds = "array(" + ",".join(dist_sqls) + ")"
        return F.expr(
            f"cast(array_position({ds}, array_min({ds})) - 1 as int)"
        )

    cent = np.asarray(centroids, dtype=np.float64)
    c_sq = (cent * cent).sum(axis=1)

    @F.pandas_udf("int")
    def _nearest(batch: pd.Series) -> pd.Series:
        x = np.stack(batch.to_numpy()).astype(np.float64, copy=False)
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 constant per row —
        # drop it, argmin unaffected
        scores = -2.0 * (x @ cent.T) + c_sq[None, :]
        return pd.Series(np.argmin(scores, axis=1).astype("int32"))

    return _nearest(F.expr(vec_sql))


def _min_dist2_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """SQL text: min squared distance from ``vec_sql`` to the centroid set
    (literal arrays; per-centroid lambdas as SQL so loop generation can't
    collapse them)."""
    ds = []
    for c in centroids:
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
        ds.append(
            f"aggregate(zip_with({vec_sql}, {arr},"
            " (x, y) -> (x - y) * (x - y)), 0.0D, (acc, d) -> acc + d)"
        )
    return "array_min(array(" + ",".join(ds) + "))"


def _weighted_lloyd_local(cands, weights, k, n_iters=8):
    """Driver-side weighted k-means over the (sketch-sized) k-means||
    candidate set: greedy farthest-point seeding, then weighted Lloyd."""
    x = np.asarray(cands, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    seeds = [int(np.argmax(w))]
    d2 = ((x - x[seeds[0]]) ** 2).sum(axis=1)
    while len(seeds) < min(k, len(x)):
        nxt = int(np.argmax(w * d2))
        seeds.append(nxt)
        d2 = np.minimum(d2, ((x - x[nxt]) ** 2).sum(axis=1))
    cent = x[seeds].copy()
    for _ in range(n_iters):
        dist = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(dist, axis=1)
        for j in range(len(cent)):
            m = assign == j
            if w[m].sum() > 0:
                cent[j] = (x[m] * w[m, None]).sum(axis=0) / w[m].sum()
    return [list(map(float, c)) for c in cent]


def _kmeans_parallel_init(
    points: DataFrame, n_centroids: int, seed: int, rounds: int = 2
) -> list[list[float]]:
    """k-means|| (Bahmani et al., VLDB 2012) over DataFrame ops: start from
    one point, then each round sample ~2k candidates with probability
    proportional to their squared distance to the current set, finally
    recluster the weighted candidate sketch driver-side.

    Sampling uses xxhash64(v, round) as the uniform draw — deterministic
    AND independent of partitioning/cluster size, unlike rand(seed). Every
    distributed step is a projection or a tiny agg; candidates stay
    sketch-sized (~rounds x 2k)."""
    first = points.orderBy(F.xxhash64(F.col("v"))).limit(1).collect()
    if not first:
        return []
    cands = [list(first[0]["v"])]
    denom = float(1 << 40)
    for r in range(rounds):
        md = _min_dist2_sql("v", cands)
        tot = points.select(F.expr(md).alias("d")).agg(F.sum("d")).first()[0]
        if not tot or tot <= 0:
            break
        u = (
            f"(pmod(xxhash64(v, {seed + r}), {1 << 40}) / {denom!r}D)"
        )
        frac = f"least(1.0D, {float(2 * n_centroids)!r}D * ({md}) / {float(tot)!r}D)"
        new = (
            points.filter(F.expr(f"{u} < {frac}"))
            .limit(10 * n_centroids)
            .collect()
        )
        fresh = [list(row["v"]) for row in new]
        seen = {tuple(c) for c in cands}
        cands += [c for c in fresh if tuple(c) not in seen]
    if len(cands) <= n_centroids:
        return cands
    # weight candidates by how many points they own, then recluster locally
    wrow = (
        points.select(nearest_centroid_col("v", cands).alias("cid"))
        .groupBy("cid")
        .count()
        .collect()
    )
    by_cid = {r["cid"]: r["count"] for r in wrow}
    weights = [by_cid.get(i, 0) for i in range(len(cands))]
    return _weighted_lloyd_local(cands, weights, n_centroids)


def _kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int,
    n_iters: int,
    id_col: str,
    init: str = "first",
    seed: int = 42,
) -> list[list[float]]:
    """Plain Lloyd iterations in DataFrame ops: assignment is a map-only
    projection (``nearest_centroid_col`` — no crossJoin/shuffle of vectors),
    centroid update via posexplode + per-(centroid, dimension) mean (the one
    unavoidable shuffle per iteration, map-side combined down to
    n_partitions x n_centroids x dim values).

    ``init``: "first" — the n_centroids rows with the smallest ids (cheap,
    degenerate on sorted/clustered data); "kmeans||" — distance-weighted
    oversampling (``_kmeans_parallel_init``), the scale-robust choice."""
    if init not in ("first", "kmeans||"):
        raise ValueError(f"unknown kmeans init {init!r}")
    vec = F.col(vec_col).cast("array<double>")
    points = df.select(vec.alias("v")).persist()
    if init == "kmeans||":
        centroids = _kmeans_parallel_init(points, n_centroids, seed)
        if len(centroids) < n_centroids:  # tiny/degenerate input fallback
            init = "first"
    if init == "first":
        rows = (
            df.orderBy(F.col(id_col))
            .limit(n_centroids)
            .select(vec.alias("c"))
            .collect()
        )
        centroids = [list(r["c"]) for r in rows]
    try:
        for _ in range(n_iters):
            assigned = points.withColumn(
                "cid", nearest_centroid_col("v", centroids)
            )
            new = (
                assigned.select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(F.avg("x").alias("m"))
                .groupBy("cid")
                .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("ms"))
                .select("cid", F.transform("ms", lambda s: s["m"]).alias("c"))
                .collect()
            )
            by_cid = {r["cid"]: list(r["c"]) for r in new}
            centroids = [by_cid.get(i, centroids[i]) for i in range(n_centroids)]
    finally:
        points.unpersist()
    return centroids


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 3,
    fmt: str = "parquet",
    init: str = "first",
    seed: int = 42,
) -> list[list[float]]:
    """IVF index: k-means coarse quantizer, vectors written partitioned by
    their nearest-centroid id. Assignment is a map-only projection
    (``nearest_centroid_col``) — building the index is ONE scan + write,
    no vector shuffle. ``init="kmeans||"`` picks distance-spread starting
    centroids (skew-robust; see ``_kmeans_parallel_init``). Centroids are
    written to ``path + '/_centroids.json'``
    through the Hadoop FileSystem (works for s3a/hdfs/abfs index paths —
    see fsio.py) and also returned."""
    import json as _json

    from .. import fsio

    centroids = _kmeans_centroids(
        df, vec_col, n_centroids, n_iters, id_col, init=init, seed=seed
    )
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        nearest_centroid_col(
            f"cast(`{vec_col}` as array<double>)", centroids
        ).alias("cid"),
    )
    assigned.write.mode("overwrite").partitionBy("cid").format(fmt).save(path)
    fsio.write_text(
        f"{path.rstrip('/')}/_centroids.json", _json.dumps(centroids), df.sparkSession
    )
    return centroids


def ann_topk_ivf(
    spark,
    index_path: str,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 4,
    centroids: list[list[float]] | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """IVF query: nearest ``n_probes`` centroids picked driver-side (tiny),
    then a partition-pruned read of just those cid partitions + exact cosine."""
    import json as _json

    from .. import fsio

    if centroids is None:
        centroids = _json.loads(
            fsio.read_text(f"{index_path.rstrip('/')}/_centroids.json", spark)
        )

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probes = sorted(range(len(centroids)), key=lambda i: d2(query_vector, centroids[i]))[
        :n_probes
    ]
    q_sql = _array_lit_sql([float(x) for x in query_vector])
    vec = F.col(vec_col).cast("array<double>")
    return (
        spark.read.format(fmt)
        .load(index_path)
        .filter(F.col("cid").isin(probes))
        .select(F.col(id_col), vec.alias("__v"))
        .select(
            F.col(id_col),
            F.round(cosine_sql("__v", q_sql, len(query_vector)), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# -- int8 embedding quantization ---------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    embedding_col: str = "embedding",
    out_col: str = "q_embedding",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = floor(x_i / scale + 0.5)`` (round-half-toward-+inf — chosen
    over round() so the arithmetic is bit-identical across engines; the
    DuckDB oracle replays it exactly). Zero vectors quantize to all-zero
    with scale 0.

    The ANN storage scale path: a float32 corpus shrinks 4x (embeddings
    dominate index IO at 10^9 vectors), dot products stay int-SIMD
    friendly, and per-vector scales bound the reconstruction error at
    ``scale/2`` per component. One JVM projection — shuffle-free, inherits
    input partitioning. NOTE: ``transform``/``array_max`` higher-order
    functions evaluate INTERPRETED, not whole-stage codegen (the repo's
    measured HOF caveat, BASELINE.md #9) — acceptable here because this is
    a map-only pass over vector widths of a few hundred, with no shuffle
    to amplify it."""
    emb = F.col(embedding_col).cast("array<double>")
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x))) / F.lit(127.0)
    # the scale is MATERIALIZED as a column before the quantization
    # transform references it: inlined, the interpreted HOF re-evaluated
    # the whole array_max(transform(abs)) subtree PER ELEMENT — O(dim^2)
    # per vector (measured ~2x on 64-dim vectors). Two projections stay
    # separate (CollapseProject does not duplicate non-cheap aliases
    # referenced more than once); values are bit-identical.
    sc = F.col(scale_col)
    q = F.when(
        sc == 0, F.transform(emb, lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(emb, lambda x: F.floor(x / sc + F.lit(0.5)).cast("tinyint"))
    )
    return df.withColumn(scale_col, scale).withColumn(out_col, q)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q_embedding",
    scale_col: str = "q_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of quantize_embeddings: ``x_i ~= q_i * scale`` (error
    bounded by scale/2 per component)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )
