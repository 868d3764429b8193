"""Deduplication operators for large-scale training-data pipelines.

Scale-first designs:

- exact: hash-groupBy on a normalized fingerprint (one shuffle on a short
  key, map-side partial agg; never shuffles document bodies).
- MinHash + LSH: shingle -> n minhashes (all JVM expressions) -> band ->
  bucket-join. Candidate verification by signature agreement. The only
  all-pairs work happens inside LSH buckets.
- n-gram Jaccard: exact verified similarity via shingle inverted index
  (explode distinct shingles -> self-join on shingle with doc-frequency
  stop-shingle filtering -> per-pair intersection counts). SQL-expressible,
  oracle-checkable.
- SimHash: 64-bit bit-voting signature over token hashes, built from native
  expressions (aggregate over bit masks) — near-dups differ in few bits.
- embedding cosine near-dup: see operators.similarity.

Every function returns a DataFrame plan (lazy); nothing collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import fingerprint_col, shingles_frame, tokens_col


# -- exact ---------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    (fingerprint, n_copies) with n_copies > 1."""
    return (
        df.select(fingerprint_col(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id representative per fingerprint. Shuffles only
    (fingerprint, id) pairs + a semi-join back — document bodies move once."""
    fp = df.select(
        F.col(id_col), fingerprint_col(F.col(text_col)).alias("fingerprint")
    )
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def corpus_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content fingerprints of a corpus — the ledger a streaming /
    batch-over-batch ingest pipeline carries forward between batches
    (persist it as a table; each batch appends its new fingerprints)."""
    return df.select(
        fingerprint_col(F.col(text_col)).alias("fingerprint")
    ).distinct()


def drop_seen_duplicates(
    df: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedup_within_batch: bool = True,
) -> DataFrame:
    """Incremental (batch-over-batch) exact dedup: drop rows whose content
    fingerprint already exists in ``seen`` — the fingerprint ledger of all
    previously ingested batches (see ``corpus_fingerprints``) — and, by
    default, also keep only the lowest-id copy of fingerprints duplicated
    WITHIN this batch.  This is the batch twin of the streaming
    keep-first operator (streaming/stateful.py): same keep-first
    semantics, ledger-in-a-table instead of ledger-in-state.

    Scale shape: the batch side computes (id, fingerprint) — a 16-byte md5
    over normalized text — and anti-joins ``seen`` on fingerprint.  ``seen``
    is NOT broadcast-hinted: after months of ingest the ledger is billions
    of rows, so the anti-join must be a shuffled join; AQE will still
    broadcast it while it is genuinely small.  Document bodies move at most
    once (the final semi-join back on ``id_col``)."""
    fp = df.select(
        F.col(id_col), fingerprint_col(F.col(text_col)).alias("fingerprint")
    )
    seen_fp = seen.select("fingerprint").distinct()
    new_fp = fp.join(seen_fp, "fingerprint", "left_anti")
    if dedup_within_batch:
        new_fp = (
            new_fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
        )
    return df.join(new_fp.select(id_col), on=id_col, how="left_semi")


# -- MinHash + LSH ----------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    k: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<long>) — n minhashes over k-char shingles; each is
    ``min(hash_i(shingle))``.

    ``hash_family``: "xxhash64" (default — fastest, Spark-only) or "md5"
    (portable 60-bit md5-prefix hash, bit-identical in DuckDB — see
    functions.portable_hash; used by the driver-oracle query so the banded
    LSH output is independently verifiable).

    Explode shingles -> hash once -> ``groupBy(id)`` with n codegen'd
    ``min(seeded_mix(h, i))`` aggregates. Everything stays in whole-stage
    codegen; map-side partial aggregation collapses each doc's rows before
    the shuffle (a doc's shingles live in one input partition), so the
    exchange carries ~1 row per doc. Measured 1.8x faster than a single-pass
    SQL ``aggregate`` over the shingle array (interpreted higher-order
    functions) at sf0.1 (5.25s -> 2.84s), bit-identical output. Docs with
    NULL text (no shingle array) produce no signature row (they cannot be
    near-dups).

    Cost shape: each shingle is string-hashed ONCE (-> long), then the n
    components re-hash the long with each seed — O(shingles * n)
    long-hashes, not O(shingles * n) string-hashes."""
    if hash_family == "xxhash64":
        base = "xxhash64(s)"
        seeded_lit = "xxhash64(h, {i})"
    elif hash_family == "md5":
        from ..functions.portable_hash import PORTABLE_HASH_SQL, SEEDED_MIX_SQL

        base = PORTABLE_HASH_SQL.format(arg="s")
        # seeded re-hash: pure 61-bit integer mixer — bit-identical in
        # DuckDB and ~100x cheaper than md5 per (shingle, seed); md5 is
        # paid once per shingle in `base`
        seeded_lit = SEEDED_MIX_SQL
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    # shingle generation WITHOUT the array path: explode the position
    # sequence and substr in the same whole-stage-codegen span. The
    # transform(...) char-shingle array is an interpreted HOF and
    # array_distinct materializes every doc's shingle set — but min()
    # over duplicate shingles equals min() over distinct ones, so
    # MinHash needs neither. Hashing every POSITION costs ~1.15x more
    # md5 calls than hashing distinct shingles, yet measured FASTER
    # end-to-end (sf0.1 signatures: 3.10s -> 2.81s md5, 2.00s -> 1.80s
    # xxhash64; bit-identical output). Set semantics (ngram_jaccard)
    # still use shingles_frame's distinct arrays.
    from .textstats import normalized_text_col, spread_small_scan

    basedf = spread_small_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__x")),
        "id",
    ).select("id", normalized_text_col(F.col("__x")).alias("__t"))
    hashed = (
        basedf.select(
            "id",
            "__t",
            F.explode(
                F.expr(f"sequence(1, greatest(length(__t) - {k - 1}, 1))")
            ).alias("__i"),
        )
        .select("id", F.expr(f"substr(__t, __i, {k})").alias("s"))
        .select("id", F.expr(base).alias("h"))
    )
    mins = [
        F.min(F.expr(seeded_lit.format(h="h", i=str(i)))).alias(f"__m{i}")
        for i in range(n_hashes)
    ]
    return (
        hashed.groupBy("id")
        .agg(*mins)
        .select(
            "id",
            F.array(*[F.col(f"__m{i}") for i in range(n_hashes)]).alias("sig"),
        )
    )


def _stage_frame(
    df: DataFrame,
    cache: str,
    persisted_frames: list | None,
) -> DataFrame:
    """Stage a frame the surrounding plan consumes multiple times.

    - ``"persist"``: session CacheManager entry (memory/disk blocks; lives
      until unpersist/clearCache — Spark does not GC DataFrame caches).
    - ``"table:<path>"``: write parquet at <path> and re-read — the plan
      leaf becomes a plain file scan, so multi-consumer reuse costs ZERO
      executor cache memory and survives session restarts; the 10^9-doc
      path where signature/shingle frames exceed CacheManager capacity.
      The staged table is the caller's to clean up (it is re-usable input,
      not scratch).
    """
    if cache == "persist":
        df = df.persist()
        if persisted_frames is not None:
            persisted_frames.append(df)
        return df
    if cache.startswith("table:"):
        path = cache[len("table:"):]
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    raise ValueError(f"unknown cache mode {cache!r} (persist | table:<path>)")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
    hash_family: str = "xxhash64",
    persisted_frames: list | None = None,
    cache: str | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    plan: signatures (1 scan, cached) -> explode NARROW (id, band, bucket)
    rows -> groupBy(band, bucket) with the ``max_bucket_size`` skew guard ->
    candidate id pairs within buckets -> dedupe across bands -> join the
    cached signature table back (keyed lookups) -> estimate jaccard as
    signature agreement -> filter >= threshold.

    Shuffle discipline: the banded/pair shuffles carry only (id, band,
    bucket) — NOT the n_hashes-long signature arrays (x bands duplication);
    signatures move once per matched side via the keyed join. The
    signature frame is persisted, so the expensive shingle hashing runs
    exactly once; the cache is (id + n_hashes longs) per doc and lives in
    the session CacheManager until ``spark.catalog.clearCache()`` (Spark
    does not drop DataFrame cache entries on GC). At extreme scale pass
    ``cache="table:<path>"`` to stage signatures as a parquet table
    instead (file-scan leaf, zero CacheManager memory — see
    ``_stage_frame``).

    ``hash_family="md5"`` makes the whole pipeline (signatures AND band
    buckets) bit-reproducible in DuckDB for oracle checking.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduped across bands.
    """
    assert n_hashes % bands == 0, "bands must divide n_hashes"
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, k, hash_family)
    # session-lived cache entry by default; callers that run this repeatedly
    # in a long-lived session pass ``persisted_frames`` and unpersist after
    # consuming the result (engine persisted_frames/cleanup pattern)
    sig = _stage_frame(sig, cache or "persist", persisted_frames)

    def band_bucket_sql(b: int) -> str:
        elems = [
            f"element_at(sig, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        ]
        if hash_family == "md5":
            # portable bucket key: md5 hex of the comma-joined components
            # (DuckDB: md5(concat_ws(',', ...)) — identical string)
            casts = ", ".join(f"CAST({e} AS STRING)" for e in elems)
            return f"md5(concat_ws(',', {casts}))"
        # long bucket key: cheapest shuffle width
        return f"xxhash64({', '.join(elems)})"

    # one parsed expr instead of ~20 Column ops per band (eager-analyzed
    # py4j hops dominate plan-construction time on this path); explode +
    # struct-field selection is unchanged, so the executed plan and the
    # (id, band, bucket) rows are identical
    bb_sql = "explode(array({}))".format(
        ", ".join(
            f"named_struct('band', {b}, 'bucket', {band_bucket_sql(b)})"
            for b in range(bands)
        )
    )
    banded = sig.select("id", F.expr(bb_sql).alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )

    # stop-bucket guard: giant buckets (degenerate content) would produce
    # O(n^2) pairs — cap them (logged via bucket_size column if needed)
    bucket_sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bs"))
    banded = banded.join(
        bucket_sizes.filter(F.col("bs") <= max_bucket_size).select("band", "bucket"),
        on=["band", "bucket"],
        how="left_semi",
    )

    a = banded.select("band", "bucket", F.col("id").alias("id_a"))
    b = banded.select("band", "bucket", F.col("id").alias("id_b"))
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = cand.join(sa, "id_a").join(sb, "id_b")
    # signature agreement, unrolled: the HOF zip_with/filter pair runs
    # INTERPRETED per candidate pair; signatures built above always have
    # exactly n_hashes non-null elements, so the codegen'd sum of per-lane
    # equality flags (a ~2*n node tree — small enough to compile, unlike
    # the k x dim cases noted in similarity.py) counts the same lanes; the
    # size guard keeps the HOF form for any foreign-built signature frame
    fast_terms = " + ".join(
        f"(CASE WHEN get(sig_a, {i}) = get(sig_b, {i}) THEN 1 ELSE 0 END)"
        for i in range(n_hashes)
    )
    # single parsed expr (plan-construction latency: one py4j hop instead
    # of ~6 per lane); the parsed tree is the same guarded left-assoc sum
    # of per-lane equality flags falling back to the interpreted HOF form
    agree = F.expr(
        f"CASE WHEN size(sig_a) = {n_hashes} AND size(sig_b) = {n_hashes} "
        f"THEN 0 + {fast_terms} "
        f"ELSE size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), eq -> eq)) END"
    )
    return (
        pairs.withColumn("est_jaccard", agree / F.lit(float(n_hashes)))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


# -- exact n-gram Jaccard (inverted index) -------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
    persisted_frames: list | None = None,
    cache: str | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct k-char shingles via an
    inverted index: explode -> (optionally drop shingles in > max_doc_freq
    docs: stop-shingle skew guard) -> self-join on shingle -> count
    intersections -> jaccard = |A∩B| / (|A| + |B| - |A∩B|).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    With ``max_doc_freq`` set, the metric is exact Jaccard over the
    *post-filter* (rare-shingle) sets — sizes AND intersections are both
    computed after the stop-shingle drop, so identical documents still score
    1.0 (sizes computed pre-filter would bias the score low whenever a
    document contains a frequent shingle).

    Each shingle string is replaced by its xxhash64 in the same projection
    that explodes it, so the doc-frequency groupBy and the inverted-index
    self-join shuffle 8-byte longs instead of UTF8 strings. Counts are
    unchanged unless two distinct shingles collide in 64 bits — negligible
    below ~2^32 distinct shingles.

    The narrow (id, sh) frame is persisted at both stages — the plan
    consumes it five times (doc-freq agg, semi-join input, sizes agg, both
    self-join sides), so without the cache the expensive
    normalize+shingle+hash projection re-runs per consumer (measured −46%
    wall at sf0.1). Session-lived cache entries unless the caller passes
    ``persisted_frames`` and unpersists after consuming the result; at
    extreme scale pass ``cache="table:<path>"`` to stage the shingle frame
    as a parquet table instead (file-scan leaf, zero CacheManager memory).
    """
    shingled = _staged_shingles(
        df,
        id_col,
        text_col,
        k,
        max_doc_freq,
        persisted_frames,
        cache,
    )
    counted = _pair_intersection_counts(shingled)
    return (
        counted.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _staged_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_doc_freq: int | None,
    persisted_frames: list | None,
    cache: str | None,
) -> DataFrame:
    """Staged (id, sh) frame shared by the Jaccard and containment
    scorers: explode distinct shingles, DROP NULL shingles (a NULL-text
    document's shingle array is [NULL]; hashed, that becomes the
    matchable constant xxhash64(NULL) and every NULL-text pair scores
    1.0 — review-confirmed phantom pairs), hash to longs, stage per
    ``cache`` (default ``"persist"``), and apply the
    ``max_doc_freq`` stop-shingle guard. Second-stage staging follows
    the resolved mode: in "table:" mode a persist() here would silently
    re-introduce the CacheManager entry the caller opted out of (the
    post-filter frame is then recomputed per consumer from the staged
    parquet — a narrow scan + semi-join, the cheap part of the plan)."""
    # NULL-text rows are dropped BEFORE shingling: a NULL-text document's
    # shingle array is [NULL] and nothing else (substr of non-NULL text is
    # never NULL), so this one row-level filter is exactly the old
    # post-explode ``__s IS NOT NULL`` — but it prunes the row before the
    # normalize/transform work and reaches the parquet scan as a pushed
    # filter instead of running per exploded shingle (VERDICT r05 item 1)
    from .textstats import spread_small_scan

    base = spread_small_scan(
        df.filter(F.col(text_col).isNotNull()).select(id_col, text_col), id_col
    )
    shingled = (
        shingles_frame(base, id_col, text_col, k)
        .select("id", F.explode(F.array_distinct("__sh")).alias("__s"))
        .select("id", F.xxhash64(F.col("__s")).alias("sh"))
    )
    mode = cache or "persist"
    shingled = _stage_frame(shingled, mode, persisted_frames)
    if max_doc_freq:
        rare = (
            shingled.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_doc_freq)
            .select("sh")
        )
        shingled = shingled.join(rare, on="sh", how="left_semi")
        if mode == "persist":
            shingled = _stage_frame(shingled, mode, persisted_frames)
    return shingled


def _pair_intersection_counts(shingled: DataFrame) -> DataFrame:
    """(id_a, id_b, n_common, sz_a, sz_b) from a staged (id, sh) frame —
    the inverted-index self-join core shared by the Jaccard and
    containment scorers."""
    sizes = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = shingled.select(F.col("id").alias("id_a"), "sh")
    b = shingled.select(F.col("id").alias("id_b"), "sh")
    common = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return common.join(sz_a, "id_a").join(sz_b, "id_b")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    threshold: float = 0.9,
    max_doc_freq: int | None = 1000,
    persisted_frames: list | None = None,
    cache: str | None = None,
) -> DataFrame:
    """Max-containment pairs: ``|A∩B| / min(|A|, |B|)`` over the same
    hashed-shingle inverted index as ``ngram_jaccard_pairs`` — the
    near-SUPERSET detector Jaccard structurally misses. A quote, excerpt,
    or chapter fully embedded in a much longer page has containment ~1.0
    while its Jaccard is ~|small|/|big| (arbitrarily low): resemblance
    dedup keeps both, then the training set memorizes the duplicated
    passage anyway. Standard corpus practice runs BOTH thresholds
    (Broder's resemblance/containment pair).

    Returns (id_a, id_b, containment, sz_a, sz_b) with id_a < id_b,
    containment >= threshold; sizes let the caller see which side is the
    contained one (the smaller). Same stop-shingle guard, shingle hashing
    and staging as the Jaccard scorer; the docs there apply — this is
    the verify tool behind a blocking family, not a corpus-wide O(n²)
    pass at 100 TB.
    """
    shingled = _staged_shingles(
        df,
        id_col,
        text_col,
        k,
        max_doc_freq,
        persisted_frames,
        cache,
    )
    counted = _pair_intersection_counts(shingled)
    return (
        counted.withColumn(
            "containment",
            F.col("n_common") / F.least(F.col("sz_a"), F.col("sz_b")),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round("containment", 6).alias("containment"),
            "sz_a",
            "sz_b",
        )
    )


# -- SimHash ----------------------------------------------------------------


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig: long) SimHash: per token-hash, vote +1/-1 on each bit; the
    sign of each bit's vote sum is the signature bit.

    Single-pass SQL ``aggregate`` over the token array — shuffle-free.
    Interpreted (HOFs never codegen), but MEASURED FASTER here (1.34s vs
    1.87s at sf0.1) than exploding tokens into a ``groupBy(id)`` of
    codegen'd vote sums: that form pays n_bits aggregate-buffer updates per
    exploded TOKEN row, which outweighs the codegen win. The opposite call
    from minhash_signatures, made on measurement, not analogy.

    ``hash_family="md5"``: portable 60-bit hash reproducible in DuckDB
    (functions.portable_hash) — use n_bits <= 60 with it; the driver-oracle
    query runs this variant."""
    if hash_family == "xxhash64":
        tok_hash = "xxhash64(t)"
    elif hash_family == "md5":
        from ..functions.portable_hash import PORTABLE_HASH_SQL

        if n_bits > 60:
            raise ValueError("md5 hash family provides 60 bits; lower n_bits")
        tok_hash = PORTABLE_HASH_SQL.format(arg="t")
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    from .textstats import spread_small_scan

    df = spread_small_scan(df.select(id_col, text_col), id_col)
    votes = (
        f"aggregate(transform(__toks, t -> {tok_hash}), "
        f"array_repeat(0L, {n_bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {n_bits - 1}), "
        f"(a, i) -> a + IF(((shiftright(h, cast(i AS int)) & 1) = 1), 1L, -1L)))"
    )
    pack = (
        f"aggregate(zip_with({votes}, sequence(0, {n_bits - 1}), "
        f"(v, i) -> IF(v > 0, shiftleft(1L, cast(i AS int)), 0L)), "
        f"0L, (acc, x) -> acc | x)"
    )
    return df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("__toks")
    ).select("id", F.expr(pack).alias("sig"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bits: int = 64,
    n_tables: int = 4,
    max_block_size: int = 1000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: block on ``n_tables`` disjoint bit-slices
    (a pair within Hamming distance d < n_tables must agree on >= 1 slice),
    verify with exact popcount distance.

    ``max_block_size`` is the degenerate-block guard (same stop-bucket
    semi-join as ``minhash_lsh_candidates``): a corpus of near-identical
    content (empty files, boilerplate headers) collapses into one slice
    block of n docs and would emit O(n^2) candidate pairs; blocks above the
    cap are dropped from the self-join. Handle truly identical content with
    ``exact_duplicates`` FIRST — that is the scalable shape for it.

    Returns (id_a, id_b, hamming)."""
    slice_width = n_bits // n_tables
    sig_df = simhash_signatures(df, id_col, text_col, n_bits, hash_family)
    blocked = sig_df.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        F.shiftright(F.col("sig"), t * slice_width)
                        .bitwiseAND(F.lit((1 << slice_width) - 1))
                        .alias("slice"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("b"),
    ).select("id", "sig", "b.t", "b.slice")
    block_sizes = blocked.groupBy("t", "slice").agg(F.count(F.lit(1)).alias("bs"))
    blocked = blocked.join(
        block_sizes.filter(F.col("bs") <= max_block_size).select("t", "slice"),
        on=["t", "slice"],
        how="left_semi",
    )
    a = blocked.select("t", "slice", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = blocked.select("t", "slice", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        a.join(b, on=["t", "slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -- near-duplicate clustering closure ---------------------------------------


class _CheckpointHandle:
    """Cleanup handle for a ``localCheckpoint``'d DataFrame: DataFrame
    .unpersist() only talks to the cache manager, so checkpoint blocks
    need the underlying RDD released explicitly. Duck-types .unpersist()
    for the engine's persisted_frames cleanup pattern."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        try:
            plan = self._df._jdf.queryExecution().analyzed()  # noqa: SLF001
            plan.rdd().unpersist(blocking)
        except Exception:  # pragma: no cover - already released / not LogicalRDD
            pass


# Edge-count ceiling for the driver-local union-find fast path: 10^6
# (src, dst) longs collect to ~16 MB — far inside driver headroom (the
# engine's broadcast guards allow bigger) — and close in well under a
# second where the distributed loop pays multiple shuffle+checkpoint
# rounds of fixed latency per round. Near-dup pair graphs are usually
# TINY relative to the corpus (pairs are the output of aggressive LSH
# blocking), so at any corpus scale the closure input can land under
# this; graphs above it take the distributed loop unchanged.
_CC_LOCAL_MAX_EDGES = 1_000_000


def _local_components(rows: list) -> list[tuple] | None:
    """Driver-local union-find over collected (src, dst) rows; returns
    (id, component=min member) tuples, or None when a NULL id is present
    (NULL semantics are left to the distributed path). Python's str/int
    ordering matches Spark's (UTF-8 byte order == code-point order), so
    the min-representative contract is identical."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        if a is None or b is None:
            return None
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    mins: dict = {}
    for x in parent:
        r = find(x)
        m = mins.get(r)
        if m is None or x < m:
            mins[r] = x
    return [(x, mins[find(x)]) for x in parent]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    persisted_frames: list | None = None,
    stats: dict | None = None,
    local_max_edges: int | None = None,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``; ``component``
    is the smallest id in the vertex's connected component.

    This is the closure step every fuzzy-dedup pipeline needs on top of
    candidate PAIRS (minhash_lsh_candidates / simhash_near_duplicates /
    similarity.embedding_near_duplicates): near-duplication is not
    transitive pairwise, but removal must treat A~B~C as one group or a
    chain of near-dups survives in pieces.

    Algorithm: iterative min-label propagation with pointer jumping.
    Labels initialize directly to ``min(id, min neighbor id)`` — the first
    neighbor-min round folded into the vertex-set groupBy for free; each
    subsequent round
      1. neighbor-min: ``l(v) <- min(l(v), min of l(u) over neighbors)``
         — one (dst, label) hash join + a groupBy(src) min (map-side
         partial agg),
      2. pointer jump: ``l(v) <- l(l(v))`` — a self-join of the label
         table (labels only ever name vertices inside the same component,
         so jumping is sound and roughly halves the propagation depth),
    until a round changes nothing. Neighbor-min alone needs O(diameter)
    rounds; the jump makes it O(log diameter) — and near-dup components
    are shallow (clusters, short chains), so 2-4 rounds is typical.

    Scale shape: every round shuffles only (id, label) longs — never
    signatures or text. Each round's labels are materialized with
    ``localCheckpoint(eager=True)``: iterative self-joins grow the logical
    plan ~4x per round (persist() does NOT truncate lineage — Catalyst
    re-analyzes the full tree each round, OOMing the driver near round
    10), while a checkpoint leaf keeps every round's plan O(1). The
    previous round's checkpoint blocks are released explicitly after the
    convergence count. The driver loop touches only the per-round
    changed-row COUNT, never row data.

    Exhausting ``max_iterations`` before a round changes nothing means the
    returned labels may be UNDER-MERGED (downstream dedup would keep more
    than one representative of a cluster) — a ``RuntimeWarning`` is raised
    with the residual changed-count so the caller can raise the budget.
    Pass ``stats={}`` to receive {"rounds": r, "converged": bool,
    "last_changed": n} for observability/tests (pointer jumping keeps
    rounds ~log2(graph diameter): a 10^4-vertex path converges well under
    20 rounds — pinned in tests/test_pipeline_ops.py).

    NOTE: this is a multi-job iterative algorithm (cannot be a single SQL
    plan); the DuckDB oracle replays it as a recursive-CTE transitive
    closure, which is exact on test scales.

    Why pointer jumping is the only distributed loop: an alternating
    large-star/small-star edge-rewiring loop (Kiveris et al., SoCC'14)
    was measured against it on a 4-core host with ``local_max_edges=0``,
    two alternating runs per side, same components out of both. On a
    10^6-edge giant component (250k-spoke hub + 250k chain + small
    clusters) star won, 91.7 / 78.1 s in 19 rounds vs 106.6 / 106.3 s in
    18; on 10^6 edges of shallow clusters jump won, 24.0 / 16.5 s in 1
    round vs 24.9 / 23.6 s in 2. Near-dup pair graphs are the shallow
    shape, and every caller's graph so far (sf0.1's minhash pair graph:
    271,067 edges) closes on the driver-local path anyway.
    """
    import warnings

    if local_max_edges is None:
        local_max_edges = _CC_LOCAL_MAX_EDGES
    # persist the RAW edge list once: `pairs` is usually an EXPENSIVE plan
    # (LSH banding + signature joins) — without the cache every consumer
    # (edge count, each closure round) would re-run the whole candidate
    # generation. Constant across rounds, so plain persist suffices (no
    # lineage growth); released deterministically after convergence. The
    # symmetrized view below reads the cache, so the pair plan runs ONCE
    # (the old code persisted the symmetrized union, evaluating it twice).
    raw = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).persist()
    if local_max_edges and raw.count() <= local_max_edges:
        # scale-adaptive fast path: the measured edge set fits the driver
        # comfortably, so the closure — an O(E α(E)) union-find — runs
        # locally in one pass instead of paying several shuffle+checkpoint
        # rounds of fixed latency. Identical (id, component) contract to
        # the distributed loop (self-loop-only vertices are kept); NULL ids
        # fall through to the distributed path.
        # Arrow transfer: a few hundred thousand (src, dst) rows arrive as
        # two columnar buffers instead of per-row JVM->pickle Row objects
        # (measurably cheaper at the 10^5-10^6-edge end of this path);
        # falls back to collect() where toArrow is unavailable
        try:
            tab = raw.toArrow()
            edge_rows = list(
                zip(tab.column(0).to_pylist(), tab.column(1).to_pylist())
            )
        except Exception:  # pragma: no cover - non-Arrow environments
            edge_rows = raw.collect()
        comps = _local_components(edge_rows)
        if comps is not None:
            from pyspark.sql.types import StructField, StructType

            id_type = raw.schema["src"].dataType
            raw.unpersist()
            if stats is not None:
                stats.update(rounds=0, converged=True, last_changed=0)
            schema = StructType(
                [StructField("id", id_type), StructField("component", id_type)]
            )
            return pairs.sparkSession.createDataFrame(comps, schema)
    edges = raw.unionByName(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # initialization folds the FIRST neighbor-min round in for free: with
    # labels starting as own ids, round 1's step-1 is exactly
    # min(id, min neighbor id) — one groupBy instead of a distinct + a
    # full loop round (vertex set = src side of the symmetrized edges)
    labels_ck = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__m"))
        .select(
            F.col("src").alias("id"), F.least("src", F.col("__m")).alias("label")
        )
        .localCheckpoint(eager=True)
    )
    handle = _CheckpointHandle(labels_ck)
    labels = labels_ck
    converged = False
    rounds = 0
    changed = -1
    for _ in range(max_iterations):
        rounds += 1
        nbr = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("dlabel")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlabel").alias("nmin"))
            .select(F.col("src").alias("id"), "nmin")
        )
        # carry the pre-round label through the checkpoint so the changed
        # count is a map-only scan of the materialized blocks instead of a
        # per-round (labels JOIN jumped) job — one fewer shuffle per round
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.col("label").alias("__old"),
            F.least("label", F.coalesce("nmin", F.col("label"))).alias("label"),
        )
        jumped_ck = (
            stepped.join(
                stepped.select(
                    F.col("id").alias("__pid"), F.col("label").alias("__plabel")
                ),
                F.col("label") == F.col("__pid"),
                "left",
            )
            .select(
                "id", "__old", F.coalesce("__plabel", F.col("label")).alias("label")
            )
            .localCheckpoint(eager=True)
        )
        changed = jumped_ck.filter(F.col("__old") != F.col("label")).count()
        handle.unpersist()
        handle = _CheckpointHandle(jumped_ck)
        labels = jumped_ck.select("id", "label")
        if changed == 0:
            converged = True
            break
    raw.unpersist()
    if not converged:
        warnings.warn(
            f"connected_components exhausted max_iterations={max_iterations} "
            f"with {changed} labels still changing — returned components may "
            "be UNDER-MERGED (downstream dedup would under-drop); raise "
            "max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats.update(
            rounds=rounds, converged=converged, last_changed=max(changed, 0)
        )
    # the final label frame stays checkpointed (it is consumed at least
    # once downstream); callers in long-lived sessions pass
    # ``persisted_frames`` and unpersist after consuming, matching the
    # engine's cleanup pattern
    if persisted_frames is not None:
        persisted_frames.append(handle)
    return labels.select("id", F.col("label").alias("component"))


def drop_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep: str = "min_id",
    score_col: str | None = None,
    persisted_frames: list | None = None,
) -> DataFrame:
    """Remove near-duplicates given candidate ``pairs``: connected
    components over the pair graph, keep ONE representative per
    component, drop the rest. Rows in no pair survive untouched.

    ``keep``:

    - ``"min_id"`` (default): smallest id per component — cheapest (the
      component label IS the representative, no extra join).
    - ``"best"``: the member with the highest non-null ``score_col``
      (ties broken by smallest id; a NULL-scored member never beats a
      scored one — a component whose members are ALL unscored falls back
      to its smallest id, same as ``keep="min_id"``) — what a real
      training pipeline wants: keep the longest / highest-quality variant
      of a near-dup cluster, not an arbitrary one. One extra (id, score)
      join + a per-component ``min(struct(null-flag, -score, id))``
      aggregate; still only ids/scores in the shuffles.

    Scale shape: the drop set is (component members minus representatives)
    — potentially a large fraction of the corpus after aggressive dedup, so
    it is NOT broadcast-hinted; the left-anti join shuffles (id) keys and
    AQE broadcasts when the drop set turns out small."""
    comp = connected_components(pairs, id_a, id_b, persisted_frames=persisted_frames)
    if keep == "min_id":
        drop = comp.filter(F.col("component") != F.col("id")).select(
            F.col("id").alias(id_col)
        )
    elif keep == "best":
        if not score_col:
            raise ValueError('keep="best" requires score_col')
        scored = comp.join(
            df.select(F.col(id_col).alias("id"), F.col(score_col).alias("__s")),
            "id",
        )
        # representative = argmax(score), tie-break smallest id: the min of
        # (null-flag, -score, id) struct ordering. The leading null flag is
        # load-bearing: struct comparison sorts a NULL first field BEFORE
        # any value, so min(struct(-score, id)) alone would crown a
        # NULL-scored (unscored/corrupt) member over every real score.
        reps = scored.groupBy("component").agg(
            F.min(
                F.struct(
                    F.col("__s").isNull().cast("int").alias("nn"),
                    F.coalesce(-F.col("__s"), F.lit(0)).alias("ns"),
                    F.col("id"),
                )
            ).alias("k")
        )
        drop = (
            scored.join(
                reps.select("component", F.col("k.id").alias("__rep")),
                "component",
            )
            .filter(F.col("id") != F.col("__rep"))
            .select(F.col("id").alias(id_col))
        )
    else:
        raise ValueError(f"unknown keep {keep!r}")
    return df.join(drop, on=id_col, how="left_anti")


def dedup_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "minhash",
    keep: str = "min_id",
    score_col: str | None = None,
    persisted_frames: list | None = None,
    **blocking_kwargs,
) -> DataFrame:
    """One-call fuzzy dedup: blocking family -> candidate pairs ->
    connected-components closure -> keep one representative per cluster.

    ``method``: "minhash" (minhash_lsh_candidates) or "simhash"
    (simhash_near_duplicates); ``blocking_kwargs`` pass through to the
    chosen family (thresholds, bands, caps...). ``keep``/``score_col`` as
    in drop_near_duplicates. Run drop_exact_duplicates FIRST on dup-heavy
    corpora — byte-identical content is cheaper to remove exactly, and it
    shrinks the pair graph the closure must close."""
    if method == "minhash":
        pairs = minhash_lsh_candidates(
            df,
            id_col,
            text_col,
            persisted_frames=persisted_frames,
            **blocking_kwargs,
        )
    elif method == "simhash":
        pairs = simhash_near_duplicates(df, id_col, text_col, **blocking_kwargs)
    else:
        raise ValueError(f"unknown method {method!r}")
    return drop_near_duplicates(
        df,
        pairs,
        id_col,
        keep=keep,
        score_col=score_col,
        persisted_frames=persisted_frames,
    )


def near_duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    persisted_frames: list | None = None,
) -> DataFrame:
    """(component, n_members) per connected component of the pair graph —
    the cluster-size profile a dedup run reports (how much of the corpus
    collapses, and whether a degenerate mega-cluster exists). One
    (component) groupBy over the closure's (id,label) output."""
    comp = connected_components(pairs, id_a, id_b, persisted_frames=persisted_frames)
    return comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
