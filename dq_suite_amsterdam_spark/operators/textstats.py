"""Text-analysis operators for large-scale training-data pipelines.

All hot-path computation is native Column expressions (JVM, whole-stage
codegen) — splits, regex counts, array intersections. No Python per row.

- token counting: whitespace tokens + a BPE-ish subword estimate
- quality scoring: length / punctuation / stopword / alpha ratios
- language ID: stopword-overlap heuristic over a small per-language lexicon
- document fingerprinting: normalized content hash (md5) for exact-dup keys
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language function-word lexicons (public knowledge)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "para", "que", "con"],
    "nl": ["de", "het", "een", "en", "is", "niet", "met", "voor", "dat", "van"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count_col(text: Column) -> Column:
    """BPE-like subword-count estimate without a vocab: count word pieces of
    up-to-4 chars plus digit/punct runs — a deterministic regex proxy for
    tokenizer budget (chars/4 within words + standalone symbols)."""
    pieces = F.regexp_count(text, F.lit(r"[A-Za-z]{1,4}|[0-9]+|[^\sA-Za-z0-9]"))
    return F.coalesce(pieces, F.lit(0))


def quality_columns(text: Column) -> dict[str, Column]:
    """Quality-scoring metric columns (FineWeb/C4-style heuristics)."""
    n_chars = F.length(text)
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    n_alpha = F.regexp_count(text, F.lit(r"[A-Za-z]"))
    n_digits = F.regexp_count(text, F.lit(r"[0-9]"))
    mean_word_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.transform(toks, F.lower), en_stop))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "alpha_ratio": F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(n_chars > 0, n_digits / n_chars).otherwise(F.lit(0.0)),
        "mean_word_len": mean_word_len,
        "stopword_distinct_hits": stop_hits,
    }


def quality_score_col(text: Column) -> Column:
    """Composite 0..1 quality score: length in range, sane word lengths, not
    punctuation/digit soup, has common function words."""
    m = quality_columns(text)
    score = (
        F.when((m["n_chars"] >= 50) & (m["n_chars"] <= 100_000), 0.25).otherwise(0.0)
        + F.when((m["mean_word_len"] >= 3) & (m["mean_word_len"] <= 12), 0.25).otherwise(0.0)
        + F.when(m["punct_ratio"] <= 0.2, 0.2).otherwise(0.0)
        + F.when(m["digit_ratio"] <= 0.3, 0.1).otherwise(0.0)
        + F.when(m["stopword_distinct_hits"] >= 2, 0.2).otherwise(0.0)
    )
    return score.cast("double")


def lang_id_col(text: Column) -> Column:
    """n-gram/stopword heuristic language ID: the language whose function
    words overlap the document's token set the most (NULL if no evidence).
    One pass of array_intersect per language — all JVM-side."""
    toks = F.transform(tokens_col(F.lower(text)), lambda t: F.regexp_replace(t, r"[^\p{L}]", ""))
    scores = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(LANG_STOPWORDS.items())
    ]
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(None).cast("string"))


#: session -> {canonical-plan hash -> scan partition count}; see
#: spread_small_scan. Weakly keyed on the session object itself: an
#: ``id(session)`` key could be reused by a later session after garbage
#: collection and hand it another session's counts.
_SPREAD_PROBE_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

#: spread when the plan has at most defaultParallelism / this many partitions
_SPREAD_FACTOR = 2


def spread_small_scan(df: DataFrame, key_col: str | list[str]) -> DataFrame:
    """Scale-adaptive parallelism guard for operators whose expensive
    per-row work (shingle hashing, tokenization, signature building) runs
    BEFORE their first exchange: a small/unsplittable input (one tiny
    parquet file, a gzip part, a single row group) plans into far fewer
    scan tasks than the cluster has cores, serializing the whole
    projection onto a handful of threads (guide: input skew — repartition
    immediately after the read).

    If the plan's current partition count is at most ``defaultParallelism
    / _SPREAD_FACTOR``, hash-repartition by ``key_col`` (deterministic —
    never round-robin, so task retries re-derive the same placement) to
    spread the work; a downstream groupBy/join on the same key then reuses
    this exchange, so the net shuffle count is usually unchanged. No-op on
    healthily-partitioned inputs, so at real scale this never fires.
    Results are partitioning-independent (the callers aggregate or join
    by key afterwards).

    The partition-count probe (``df.rdd``) runs full physical planning —
    ~70ms of driver latency per call — so counts are memoized per
    (session, canonical plan): a session-lived planning detail like
    Spark's own file-listing cache, never query results. A plan whose
    underlying files change size mid-session may reuse a stale count;
    that only shifts the spread-vs-not decision, never results."""
    try:
        memo = _SPREAD_PROBE_MEMO.setdefault(df.sparkSession, {})
        plan_hash = df._jdf.queryExecution().analyzed().semanticHash()  # noqa: SLF001
        n = memo.get(plan_hash)
        if n is None:
            n = df.rdd.getNumPartitions()
            if len(memo) > 4096:  # unbounded-session guard
                memo.clear()
            memo[plan_hash] = n
    except Exception:  # pragma: no cover - exotic plans; spreading is optional
        try:
            n = df.rdd.getNumPartitions()
        except Exception:
            return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if n * _SPREAD_FACTOR <= target:
        keys = [key_col] if isinstance(key_col, str) else list(key_col)
        return df.repartition(target, *[F.col(k) for k in keys])
    return df


def normalized_text_col(text: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, strip edges."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_col(text: Column) -> Column:
    """Content fingerprint: md5 of normalized text (exact-dup key; md5 kept
    for DuckDB-oracle parity — xxhash64 is Spark-only)."""
    return F.md5(normalized_text_col(text))


def char_shingles_expr(col_name: str, k: int = 8, pre_normalized: bool = False) -> Column:
    """All k-char shingles of the normalized text, as array<string>.
    ``substr`` with a column start position needs the SQL-expr form.

    IMPORTANT perf note: when ``pre_normalized=False`` the normalization
    (regex) is re-evaluated per shingle position inside ``transform`` —
    ~7x slower. Hot paths must materialize the normalized text in a prior
    projection and pass ``pre_normalized=True`` (see ``shingles_frame``)."""
    norm = (
        f"`{col_name}`"
        if pre_normalized
        else f"trim(regexp_replace(lower(`{col_name}`), '\\\\s+', ' '))"
    )
    return F.expr(
        f"transform(sequence(1, greatest(length({norm}) - {k - 1}, 1)),"
        f" i -> substr({norm}, i, {k}))"
    )


def shingles_frame(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """(id, __sh: array<string>) — normalized-once k-char shingles."""
    return df.select(
        F.col(id_col).alias("id"), normalized_text_col(F.col(text_col)).alias("__t")
    ).select("id", char_shingles_expr("__t", k, pre_normalized=True).alias("__sh"))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Token-budget document chunking with overlap — the standard prep for
    context-window-bounded training/embedding: chunk i covers tokens
    [i*stride, i*stride + max_tokens) with stride = max_tokens - overlap;
    the last chunk keeps the tail even when short.

    Returns (id, chunk_idx, n_tokens, chunk_text) — one row per chunk; a
    document with no tokens yields one empty chunk (row preserved).

    All plan-side: tokens -> start offsets (``sequence``) -> posexplode ->
    slice+join per chunk. One codegen'd projection, no shuffle at all —
    chunking inherits the input's partitioning."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    toks = df.select(
        F.col(id_col).alias("id"),
        # NULL text behaves like empty (one empty chunk) instead of
        # silently dropping the document at the explode
        F.coalesce(
            tokens_col(F.col(text_col)), F.array().cast("array<string>")
        ).alias("__t"),
    )
    starts = F.expr(
        f"sequence(0, greatest(size(__t) - {overlap} - 1, 0), {stride})"
    )
    return toks.select(
        "id", "__t", F.posexplode(starts).alias("chunk_idx", "__start")
    ).select(
        "id",
        "chunk_idx",
        F.expr(f"size(slice(__t, __start + 1, {max_tokens}))").alias("n_tokens"),
        F.expr(f"array_join(slice(__t, __start + 1, {max_tokens}), ' ')").alias(
            "chunk_text"
        ),
    )


def pack_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_shards: int = 64,
    strategy: str = "concat",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Cross-document sequence packing — assemble documents into fixed
    token-budget training sequences (the step after chunking/filtering in
    an LLM pretraining pipeline).

    A GLOBAL pack order would need a total sort into ONE partition —
    unusable at corpus scale. Instead documents are first assigned to
    ``n_shards`` deterministic shards by id-hash (partition-independent,
    re-runs identical), and packing runs independently per shard: the only
    wide operation is one shard-keyed exchange; shards are sized so a
    shard's (id, n_tokens) metadata fits a task comfortably (tune
    ``n_shards`` ~ input_tokens / (budget * 10^6) at extreme scale).

    ``strategy``:

    - ``"concat"`` (default): GPT-style — the shard's documents are
      conceptually concatenated in id order and the token stream cut every
      ``budget`` tokens; a document may straddle two sequences. Closed
      form over a per-shard cumulative sum (one codegen'd window), fully
      SQL-expressible -> exact DuckDB oracle (`sequence_packing`).
    - ``"greedy"``: first-fit — a document that would overflow the open
      sequence starts a new one; documents never straddle (docs longer
      than ``budget`` get a sequence of their own). The occupancy RESET
      makes this inherently sequential per shard (not a prefix sum), so
      it runs as an Arrow-batched ``applyInPandas`` over shard groups —
      sequential within a shard, all shards in parallel.

    Returns (id, n_tokens, shard, pack_id, pack_offset): pack_id numbers
    sequences within the shard, pack_offset is the document's starting
    token offset inside its sequence (concat: offset of its FIRST token,
    which may be mid-document continuation space for straddlers).

    ``hash_family="md5"`` uses the portable 60-bit hash for the shard
    assignment so DuckDB replays the sharding bit-identically."""
    from pyspark.sql import Window

    if hash_family == "xxhash64":
        shard = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards))
    elif hash_family == "md5":
        from ..functions.portable_hash import PORTABLE_HASH_SQL

        shard = F.pmod(
            F.expr(PORTABLE_HASH_SQL.format(arg=f"cast({id_col} AS string)")),
            F.lit(n_shards),
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.size(tokens_col(F.col(text_col))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
        shard.alias("shard"),
    )
    if strategy == "concat":
        w = Window.partitionBy("shard").orderBy("id")
        start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("__start")
        return base.select("id", "n_tokens", "shard", start).select(
            "id",
            "n_tokens",
            "shard",
            F.expr(f"__start DIV {budget}").alias("pack_id"),
            F.pmod(F.col("__start"), F.lit(budget)).cast("long").alias("pack_offset"),
        )
    if strategy != "greedy":
        raise ValueError(f"unknown strategy {strategy!r}")
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    def _pack(pdf):
        pdf = pdf.sort_values("id").reset_index(drop=True)
        packs, offs = [], []
        occupancy, pack = 0, 0
        for n in pdf["n_tokens"]:
            if occupancy > 0 and occupancy + n > budget:
                pack += 1
                occupancy = 0
            offs.append(occupancy)
            packs.append(pack)
            occupancy += n
        pdf["pack_id"] = packs
        pdf["pack_offset"] = offs
        return pdf

    return base.groupBy("shard").applyInPandas(
        _pack, "id long, n_tokens long, shard long, pack_id long, pack_offset long"
    )


def token_frequencies(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
    k: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Corpus-wide vocabulary statistics: (token, n_occurrences, n_docs),
    the vocab-building / stop-word-discovery job every corpus pipeline runs
    before tokenizer training or TF-IDF weighting.

    Scale shape: one tokenize+explode scan -> a (token, id) pre-aggregation
    (map-side partial combine collapses a document's repeats of a token
    before the shuffle) -> a token-level aggregation summing occurrences
    and counting rows for exact document frequency. Two narrow shuffles on
    8-byte-ish keys; no countDistinct expand, no text moved after the
    explode. With ``k`` set, the final top-k is a TakeOrdered (no global
    sort materialization), ordered by (n_occurrences DESC, token ASC) so
    the cut is deterministic under ties."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            tokens_col(
                F.lower(F.col(text_col)) if lowercase else F.col(text_col)
            )
        ).alias("token"),
    )
    per_doc = toks.groupBy("token", "id").agg(F.count(F.lit(1)).alias("__n"))
    vocab = per_doc.groupBy("token").agg(
        F.sum("__n").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    if min_count > 1:
        vocab = vocab.filter(F.col("n_occurrences") >= min_count)
    if k is not None:
        vocab = vocab.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(k)
    return vocab


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One projection adding all text-analysis columns — a single scan."""
    t = F.col(text_col)
    metrics = quality_columns(t)
    return df.select(
        "*",
        metrics["n_tokens"].alias("n_tokens"),
        bpe_ish_token_count_col(t).alias("n_subword_tokens"),
        F.round(metrics["punct_ratio"], 6).alias("punct_ratio"),
        F.round(metrics["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(metrics["mean_word_len"], 6).alias("mean_word_len"),
        quality_score_col(t).alias("quality_score"),
        lang_id_col(t).alias("lang_pred"),
        fingerprint_col(t).alias("fingerprint"),
    )
