"""Event-stream batch operators: gap-based sessionization.

The canonical distributed shape: ONE shuffle on the user key, per-user
window sort, then all session logic is lag + cumulative sum — no
self-joins, no driver loops. Ordering includes the event id as a
tiebreaker so equal timestamps sessionize deterministically (and
engine-reproducibly: the DuckDB oracle replays the identical windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = 1800,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign a session id per event: a new session starts when the gap to
    the user's previous event exceeds ``gap_seconds``.

    Gaps compare at SECOND granularity (``unix_timestamp`` truncates
    sub-second parts) — session thresholds are minutes-scale, and the
    truncated form is what other engines reproduce exactly
    (floor(epoch(ts)) in the DuckDB oracle).

    ``session_id`` = ``<user>#<session ordinal>`` (1-based per user)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    new_session = (
        prev_ts.isNull()
        | (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts) > gap_seconds)
    ).cast("long")
    ordinal = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        session_col,
        F.concat(F.col(user_col).cast("string"), F.lit("#"), ordinal.cast("string")),
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = 1800,
    value_col: str | None = None,
    exact_value_sum: bool = False,
) -> DataFrame:
    """One row per session: bounds, event count, duration, optional value
    sum. Map-side partial aggregation after the sessionize window — the
    session key inherits the user shuffle, so no second exchange.

    ``exact_value_sum``: sum through decimal(28,10) instead of double —
    exact and ORDER-INDEPENDENT (a parallel double sum varies in the last
    bits with partitioning), cast back to double at the end. Use whenever
    the sum feeds a reproducibility check; plain double is fine for
    dashboards."""
    s = sessionize(df, user_col, ts_col, id_col, gap_seconds)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))).alias(
            "duration_seconds"
        ),
    ]
    if value_col:
        sum_col = (
            F.sum(F.col(value_col).cast("decimal(28,10)")).cast("double")
            if exact_value_sum
            else F.sum(value_col)
        )
        aggs.append(sum_col.alias("value_sum"))
    return s.groupBy(F.col(user_col), F.col("session_id")).agg(*aggs)


def rolling_anomalies(
    df: DataFrame,
    key_col: str | list[str] = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    window: int = 50,
    z_threshold: float = 3.0,
    min_periods: int = 10,
) -> DataFrame:
    """Rolling z-score anomaly flags over an ordered event stream: for each
    row, mean/stddev of the PRECEDING ``window`` values within its key
    (current row excluded — an outlier must not mask itself), and
    ``is_anomaly`` when at least ``min_periods`` history rows exist and
    |z| > ``z_threshold``. The time-series drift monitor of the DQ family:
    metric series in, flagged deviations out.

    Variance comes from the three windowed sums (n, Σv, Σv²) as
    ``(Σv² - (Σv)²/n)/(n-1)`` — each a single running-frame aggregate, no
    second pass, engine-replayable (an external SQL oracle computes the
    identical sums over the identical ROWS frame; Welford-style stddev
    aggregates would not match across engines). Negative variance from
    float cancellation clamps to 0 (values must span << 1e8 for this form;
    metric streams do). The window sums are differences of running prefix
    sums over the key's whole series (see below), so the cancellation
    error scales with the prefix Σv² up to the row: it grows with series
    length, not only with the value span — roll long series over fixed
    time buckets rather than over millions of raw rows per key.

    ONE shuffle on the key; both window passes and the output ride it.
    Scale note: rolling semantics are sequential per key, so parallelism =
    key cardinality. Key by the finest entity that owns an ordered series
    (per-table metric, per-user rate), or pre-aggregate to fixed time
    buckets first and roll over the bucket series; a corpus-wide
    low-cardinality key at 100 TB serializes into a handful of executor
    tasks by construction — ``key_col`` accepts a LIST for exactly that
    (e.g. ["event_type", "user_id"]: parallelism becomes the composite
    cardinality while each entity still owns its ordered series)."""
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    value = F.col(value_col)
    # The three frame aggregates are computed as PREFIX-SUM DIFFERENCES
    # (cumulative-to-(-1) minus cumulative-to-(-window-1)) instead of a
    # direct sliding frame: Spark's SlidingWindowFunctionFrame REPLAYS the
    # whole frame per output row — O(window * rows) interpreted aggregate
    # updates per key — while growing (UnboundedPreceding) frames update
    # incrementally, O(rows). Same rows, same frame contents: a row with
    # no preceding rows yields NULL sums / 0 counts in both forms, and a
    # partial frame (fewer than `window` preceding) subtracts an empty
    # (NULL -> coalesce 0) tail. Floating-point note: the subtraction
    # changes the summation ORDER of the double sums, which moves results
    # by ~1 ulp of the running prefix — the operator's contract already
    # tolerates engine-order drift (outputs round at 2/4 digits; the
    # DuckDB oracle computes the same sums with ITS OWN segment-tree
    # order), re-certified hash-exact at sf0.001/0.01/0.1.
    wc = (
        Window.partitionBy(*keys)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = (
        Window.partitionBy(*keys)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -(window + 1))
    )
    zero = F.lit(0.0)
    n = F.count(value).over(wc) - F.count(value).over(wt)
    s1 = F.sum(value).over(wc) - F.coalesce(F.sum(value).over(wt), zero)
    s2 = F.sum(value * value).over(wc) - F.coalesce(
        F.sum(value * value).over(wt), zero
    )
    mean = F.when(n >= 1, s1 / n)
    var = F.when(
        n >= 2, F.greatest((s2 - s1 * s1 / n) / (n - 1), F.lit(0.0))
    )
    std = F.sqrt(var)
    z = F.when(std > 0, (value - mean) / std)
    return df.select(
        "*",
        n.alias("n_prev"),
        mean.alias("roll_mean"),
        std.alias("roll_std"),
        z.alias("z_score"),
        (
            (n >= F.lit(min_periods))
            & F.coalesce(F.abs(z) > F.lit(z_threshold), F.lit(False))
        ).alias("is_anomaly"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    right_value_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Point-in-time (as-of) join: for every left row, attach the LATEST
    right row with the same key and ``right.ts <= left.ts`` — the lookup
    every event-enrichment pipeline needs (attach the most recent config /
    price / model-version as of each event) where an equi-join is wrong
    and a range self-join is O(n*m).

    Implemented as the union-tag trick, NOT a join: tag both inputs, union
    them, and run ONE last-non-null window (``last(value, ignorenulls)``
    over key ordered by (ts, tag) rows-unbounded-preceding) — right rows
    sort before left rows at equal timestamps (tag 0 < 1) so a same-second
    right row IS visible to the left row, matching DuckDB ASOF (<=)
    semantics. One shuffle on the key; no join, no range explosion, and
    skew degrades into one sorted scan per hot key rather than a
    quadratic band join. ``tolerance_seconds`` nulls out matches older
    than the horizon (computed from the carried match timestamp — no
    second pass).

    Right rows only CARRY values; they are dropped from the output. Left
    row count and columns are preserved exactly (+ the attached value
    columns and ``<ts>_matched``).

    Contract: the right side must be unique per (key, ts) — with
    duplicates there, "the latest as-of row" is ill-defined in every
    engine (DuckDB ASOF included); pre-dedup with a deterministic rule if
    the source can repeat timestamps."""
    if right_value_cols is None:
        right_value_cols = [
            c for c in right.columns if c not in (key_col, ts_col)
        ]
    lcols = left.columns
    val_names = [
        (c + suffix) if c in lcols else c for c in right_value_cols
    ]
    l_tagged = left.select(
        *[F.col(c) for c in lcols],
        F.lit(1).alias("__tag"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(n + "__v")
          for c, n in zip(right_value_cols, val_names)],
        F.lit(None).cast("timestamp").alias("__rts"),
    )
    r_tagged = right.select(
        *[
            F.col(c) if c in (key_col, ts_col) else F.lit(None).cast(
                left.schema[c].dataType
            ).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("__tag"),
        *[F.col(c).alias(n + "__v")
          for c, n in zip(right_value_cols, val_names)],
        F.col(ts_col).alias("__rts"),
    )
    u = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), F.col("__tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *lcols,
        "__tag",
        *[
            F.last(n + "__v", ignorenulls=True).over(w).alias(n)
            for n in val_names
        ],
        F.last("__rts", ignorenulls=True).over(w).alias("__mts"),
    ).filter(F.col("__tag") == 1)
    matched_ts = F.col("__mts")
    if tolerance_seconds is not None:
        stale = (
            F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(matched_ts)
        ) > tolerance_seconds
        carried = carried.select(
            *lcols,
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(n)).alias(n)
                for n in val_names
            ],
            F.when(stale, F.lit(None))
            .otherwise(matched_ts)
            .alias(ts_col + "_matched"),
        )
    else:
        carried = carried.select(
            *lcols, *val_names, matched_ts.alias(ts_col + "_matched")
        )
    return carried


def windowed_heavy_hitters(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    k: int = 3,
    window: str = "hour",
    min_count: int = 1,
    pre_rank_buckets: int | None = None,
) -> DataFrame:
    """Top-``k`` keys by count per tumbling time window — the "what
    dominated this hour" monitor (hot URLs, hot error codes, hot
    domains). Returns (window_start, key, cnt, rank), rank 1..k per
    window, ties broken by key ascending so the cut is total and
    deterministic (cross-engine certifiable — no arbitrary-row ties).

    ``window`` is a ``date_trunc`` unit ('hour', 'day', 'minute', ...):
    tumbling calendar windows, exactly replayable by any SQL engine
    (F.window's struct output is not needed for tumbling alignment).

    Scale shape: the groupBy((window, key)) count is map-side
    partial-aggregated, so the first exchange carries one row per
    distinct (window, key) — already corpus-reduced. The rank window
    then shuffles those rows once more, keyed by window_start alone; the
    per-window rank task holds that window's distinct keys, which is the
    real bound at scale (10^7 distinct URLs/hour = 10^7 rows in one
    task). ``min_count`` prunes that input BEFORE the rank exchange —
    heavy hitters are frequent by definition, so a floor of even 10
    drops the long tail of singletons that dominate distinct-key counts
    at web scale. NULL keys count like any other key (they surface data
    bugs); NULL timestamps are dropped (no window to assign).

    ``pre_rank_buckets``: EXACT two-phase refinement for the one-hot-
    window regime (a single window holding 10^7+ distinct keys makes the
    final rank a one-task sort). Keys are salted into B buckets by
    ``pmod(xxhash64(key), B)``; phase 1 ranks within (window, bucket) —
    B parallel tasks per window — and keeps each bucket's top ``k``.
    Every global top-k row is by construction inside its own bucket's
    top-k, so ranking the surviving ≤ B·k rows per window in phase 2
    returns the identical answer with the hot window's sort spread
    across B tasks. Overhead is one extra (small) exchange; leave None
    when windows are key-bounded.
    """
    counts = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.date_trunc(window, F.col(ts_col)).alias("window_start"),
            F.col(key_col).alias("key"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return rank_window_counts(counts, k, min_count, pre_rank_buckets)


def rank_window_counts(
    counts: DataFrame,
    k: int,
    min_count: int = 1,
    pre_rank_buckets: int | None = None,
) -> DataFrame:
    """The rank phase of ``windowed_heavy_hitters``, exposed separately so
    a MATERIALIZED (window_start, key, cnt) table — e.g. the output of a
    streaming complete-mode count aggregation — ranks with the identical
    semantics the batch operator certifies."""
    if min_count > 1:
        counts = counts.filter(F.col("cnt") >= min_count)
    order = [F.desc("cnt"), F.asc_nulls_first("key")]
    if pre_rank_buckets and pre_rank_buckets > 1:
        bucket = F.pmod(F.xxhash64("key"), F.lit(pre_rank_buckets))
        pre = F.row_number().over(
            Window.partitionBy("window_start", bucket.alias("__b")).orderBy(
                *order
            )
        )
        counts = counts.withColumn("__pre", pre).filter(
            F.col("__pre") <= k
        ).drop("__pre")
    rk = F.row_number().over(
        Window.partitionBy("window_start").orderBy(*order)
    )
    return counts.withColumn("rank", rk).filter(F.col("rank") <= k)


def range_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    start_col: str = "valid_from",
    end_col: str = "valid_to",
    bucket_seconds: int = 3600,
    how: str = "inner",
    max_buckets_per_interval: int = 100_000,
) -> DataFrame:
    """Interval (range) join: match each left row to every right interval
    with the same key whose ``[start_col, end_col]`` contains ``ts_col``
    (inclusive both ends) — SCD2 dimension lookup, maintenance-window
    tagging, price-validity enrichment. Spark has no native range join;
    the naive expression is a key equi-join followed by a BETWEEN filter,
    which at web scale fans every left row out to EVERY interval of its
    key before filtering.

    Distributed shape — time-grid bucketing: intervals explode to the
    grid cells ``floor(epoch/W)`` they touch, left rows compute their ONE
    cell, and the join keys on (key, cell) + codegen'd containment
    filter. Each (row, interval) pair can meet in exactly one cell (the
    row's own), so the output needs NO dedup. The fan-out is
    ``interval_length / W`` rows per interval — pick ``W`` near the
    typical interval length (cells-per-interval ≈ 1-2); a per-row
    ``raise_error`` guard aborts execution when an interval would explode
    past ``max_buckets_per_interval`` (a degenerate "forever" row
    silently exploding 10^7 cells is an outage, not a join strategy —
    model open-ended validity by clamping end to the data horizon
    first). The guard is part of the join plan, not a separate eager
    aggregate, so calling this function never runs a Spark job.

    ``how``: "inner" (matched pairs, an unmatched left row disappears) or
    "left" (unmatched left rows kept with NULL right columns — the grid
    cell is part of the join key, so left semantics fall out directly).

    Right columns are carried as-is (caller projects/renames to avoid
    collisions); rows with NULL key/ts/bounds never match (and are kept
    NULL-extended under "left").
    """
    w = int(bucket_seconds)
    if w <= 0:
        raise ValueError("bucket_seconds must be positive")
    if how not in ("inner", "left"):
        # validate BEFORE the eager max-span aggregate below runs a real
        # Spark job over the interval table's lineage
        raise ValueError(f"unknown how {how!r} (inner | left)")
    lb = F.floor(F.unix_timestamp(F.col(ts_col)) / w)
    span = F.floor(F.unix_timestamp(F.col(end_col)) / w) - F.floor(
        F.unix_timestamp(F.col(start_col)) / w
    )
    guarded = right.withColumn("__span", span)
    # degenerate-interval guard, folded INTO the explode as a per-row
    # raise_error: the previous eager max(__span) aggregate cost one full
    # Spark job over the interval table's lineage on EVERY call (driver
    # serializes on it before the real join even plans). The guard now
    # fires during execution on the first offending row — same message,
    # zero extra passes; the sequence() upper bound is only evaluated
    # after the guard branch, so a 'forever' interval raises instead of
    # exploding 10^7 cells.
    cell_hi = F.floor(F.unix_timestamp(F.col(end_col)) / w)
    guard_err = F.raise_error(
        F.concat(
            F.lit("an interval spans "),
            (F.col("__span") + 1).cast("string"),
            F.lit(
                f" buckets of {w}s (> max_buckets_per_interval="
                f"{max_buckets_per_interval}); widen bucket_seconds or "
                "clamp open-ended intervals"
            ),
        )
    )
    seq_hi = F.when(
        F.col("__span") + 1 > max_buckets_per_interval, guard_err.cast("long")
    ).otherwise(cell_hi)
    exploded = guarded.filter(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col("__span") >= 0)
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / w),
                seq_hi,
            )
        ).alias("__cell"),
    ).drop("__span")
    lkeyed = left.withColumn("__cell", lb)
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col("l.__cell") == F.col("r.__cell"))
        & (F.col(f"l.{ts_col}") >= F.col(f"r.{start_col}"))
        & (F.col(f"l.{ts_col}") <= F.col(f"r.{end_col}"))
    )
    joined = lkeyed.alias("l").join(exploded.alias("r"), cond, how)
    rcols = [
        F.col(f"r.{c}").alias(c)
        for c in right.columns
        if c not in (key_col,)
    ]
    return joined.select(
        *[F.col(f"l.{c}").alias(c) for c in left.columns], *rcols
    )
