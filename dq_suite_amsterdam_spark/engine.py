"""Validation engine: executes a compiled rule suite in a fixed number of
Spark passes, independent of the number of rules.

Pass structure (SURVEY.md §3.1 "Our lifecycle replacement"):

  0. schema rules          -> driver-side, zero scans
  1+2. FUSED scan          -> ONE codegen'd projection scan emitting
                              (regelId, identifier, deviating value) for every
                              row-predicate rule at once (array+explode),
                              with ``df.observe`` carrying ONLY the cheap
                              aggregates (row count, null/condition sums,
                              min/max/mean). Per-rule unexpected counts come
                              from counting the persisted violation frame —
                              CollectMetrics evaluates interpreted, so the
                              expensive predicates must live only in the
                              codegen'd array (BASELINE.md perf note 9).
                              Heavy-buffer aggregates (percentile, exact
                              distinct, bounded distinct-set) run as one
                              parallel agg job per rule instead. A table with
                              no predicate rules runs the cheap aggregates as
                              one plain agg.
  3. per-key groupBy plans -> uniqueness/compound-uniqueness (duplicate keys,
                              map-side partial agg handles skew; AQE on)
  4. anti-join plans       -> referential rules (broadcast small ref sides)
  5. drift plans           -> histogram / quantile-sketch collections, one
                              concurrent Spark job per rule

Passes 3-5 are submitted from driver threads and overlap the fused scan.

vs the reference's one-or-more Spark jobs per expectation plus one
filter+collect job per unique deviating value
(reference: validation.py:310-314, output_transformations.py:625-651).

All predicates are native Column expressions — whole-stage codegen applies;
no per-row Python anywhere in the data path.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .common import (
    DataQualityRulesDict,
    Rule,
    RulesDict,
    ValidationSettings,
    highest_severity,
)
from .compiler import CompiledRule, compile_suite
from .params import compute_regel_ids_bulk, python_repr_column
from .schemas import AFWIJKING_SCHEMA, VALIDATIE_SCHEMA

MASKED = "***masked***"

#: hard cap on ids collected per (regelId, deviating value) in grouped
#: violation mode when no explicit violation_limit is set — grouped agg
#: buffers must stay bounded regardless of configuration
GROUPED_DEFAULT_LIMIT = 10_000

#: broadcast the distinct referential key set only up to this many keys
#: (mirrors the uniqueness-path guard at _dup_key_stats); larger reference
#: key sets fall back to an unhinted anti-join so AQE can pick a
#: shuffle/sort-merge strategy with skew handling — SURVEY §2.1 promises
#: "broadcast for small reference sets", not unconditionally
REF_BROADCAST_MAX_KEYS = 1_000_000

#: ...and only up to this estimated serialized size: a row-count guard
#: alone admits 1M x 1KB string keys (~1 GB broadcast, amplified per
#: executor) — the exact OOM the guard exists to prevent
REF_BROADCAST_MAX_BYTES = 256 << 20


def referential_anti_join(
    df: DataFrame,
    ref_keys: DataFrame,
    n_keys: int,
    column: str,
    est_bytes: int | None = None,
) -> DataFrame:
    """Rows of ``df`` whose non-null ``column`` is absent from ``ref_keys``,
    with the size-guarded join strategy: broadcast the key set only when it
    is provably small — by ROW COUNT (``n_keys``) and, when the caller
    estimated it, by BYTES (``est_bytes`` = n_keys x avg key width) — else
    leave the join unhinted so AQE picks a shuffle/sort-merge anti-join
    with skew handling. Split out of _referential_violation_count so plan
    tests can assert BOTH regimes."""
    small = n_keys <= REF_BROADCAST_MAX_KEYS and (
        est_bytes is None or est_bytes <= REF_BROADCAST_MAX_BYTES
    )
    join_side = F.broadcast(ref_keys) if small else ref_keys
    return df.filter(F.col(column).isNotNull()).join(
        join_side, on=column, how="left_anti"
    )

# rules whose unexpected_percent denominator excludes NULLs (GX "basic" mode:
# percent of non-missing values); null-targeting and pair rules count all rows
_NULL_COUNTING_RULES = {
    "ExpectColumnValuesToNotBeNull",
    "ExpectColumnValuesToBeNull",
    "ExpectColumnPairValuesToBeEqual",
    "ExpectColumnPairValuesAToBeGreaterThanB",
    "ExpectColumnValuesSha256ToEqualReference",
}


@dataclass
class RuleResult:
    compiled: CompiledRule
    success: bool
    element_count: int | None = None
    unexpected_count: int | None = None
    unexpected_percent: float | None = None
    observed_value: Any = None

    @property
    def regel_id(self) -> str:
        return self.compiled.regel_id


@dataclass
class ValidationRunResult:
    table_id: str
    run_time: datetime.datetime
    rule_results: list[RuleResult]
    validatie: DataFrame
    afwijking: DataFrame
    success: bool
    highest_severity_level: str
    metrics: dict[str, Any] = field(default_factory=dict)
    persisted_frames: list[DataFrame] = field(default_factory=list)

    def cleanup(self) -> None:
        """Unpersist intermediate frames once the result frames have been
        consumed (call per run in long-lived processes / bucket loops)."""
        _unpersist_all(self.persisted_frames)
        self.persisted_frames = []


def _utcnow() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


def rule_set_hash(rules: list[Rule]) -> str:
    blob = json.dumps([r.to_dict() for r in rules], sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _ids_repr_col(df: DataFrame, id_cols: list[str]):
    """``[[id1, id2]]`` — Python-repr of a 1-element list of the grouped id
    list, matching the reference's unexpected_rows identifier shape
    (output_transformations.py:596-600)."""
    reprs = [python_repr_column(F.col(c), df.schema[c].dataType) for c in id_cols]
    inner = F.concat(F.lit("["), F.concat_ws(", ", *reprs), F.lit("]"))
    return F.concat(F.lit("["), inner, F.lit("]"))


def _unpersist_all(frames: list[DataFrame]) -> None:
    for frame in frames:
        try:
            frame.unpersist()
        except Exception:
            pass


def _masked_value_col(cr: CompiledRule, mask_columns: list[str] | None):
    """afwijkendeAttribuutWaarde with PII masking
    (reference mask_value: output_transformations.py:194-228)."""
    if mask_columns:
        attr = cr.attribute
        attrs = attr if isinstance(attr, list) else [attr]
        if any(str(a) in mask_columns for a in attrs if a is not None):
            return F.lit(MASKED)
    return cr.value_col


def _salted_cap(
    frame: DataFrame, keys: list[str], order, limit: int, n_rows_hint: int | None
) -> DataFrame:
    """Keep the first ``limit`` rows per ``keys`` group in ``order``.

    Two-stage exact cap: a single window partitioned only by the group keys
    would shuffle EVERY violation row to <= #groups reducers (hot keys at
    scale). Stage 1 caps each of S salt buckets per group at ``limit``
    (balanced shuffle), leaving <= S*limit rows per group for the exact
    stage-2 window. When ``n_rows_hint`` shows the frame is small, stage 1
    is skipped — one window is enough and one shuffle cheaper."""
    n_salt = 16
    if n_rows_hint is None or n_rows_hint > n_salt * limit:
        salt = F.pmod(
            F.xxhash64(F.coalesce(F.col("identifierVeldWaarde"), F.lit(""))),
            F.lit(n_salt),
        )
        w1 = Window.partitionBy(*keys, salt).orderBy(order)
        frame = (
            frame.withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") <= limit)
            .drop("__rn")
        )
    w2 = Window.partitionBy(*keys).orderBy(order)
    return (
        frame.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= limit)
        .drop("__rn")
    )


def _key_rule_result(cr: CompiledRule, unexpected: int, total_rows: int) -> RuleResult:
    """validatie result of a uniqueness or referential rule."""
    percent = (unexpected / total_rows * 100.0) if total_rows else None
    return RuleResult(
        compiled=cr,
        success=unexpected == 0,
        element_count=total_rows,
        unexpected_count=unexpected,
        unexpected_percent=percent,
    )


class ValidationEngine:
    """Compiles and runs one table's rule suite.

    ``ref_tables`` maps reference-table names (used by
    ExpectColumnValuesToBeInReferenceTable) to DataFrames.
    ``baseline_store`` (drift rules) is a .drift.BaselineStore.
    """

    def __init__(
        self,
        spark: SparkSession,
        rules_doc: DataQualityRulesDict,
        settings: ValidationSettings,
        ref_tables: dict[str, DataFrame] | None = None,
        baseline_store: Any = None,
    ) -> None:
        self.spark = spark
        self.rules_doc = rules_doc
        self.settings = settings
        self.ref_tables = ref_tables or {}
        self.baseline_store = baseline_store

    def _carry_cols(self, df: DataFrame) -> list[str]:
        """Source partition columns carried onto violation rows (row mode
        only) so afwijking facts can be written partitioned by (repo, lang)
        (SURVEY §2.2) and read back partition-pruned. Grouped mode
        aggregates across source rows, so carrying is skipped there."""
        cols = self.settings.partition_columns or []
        if self.settings.violation_mode != "row":
            return []
        reserved = {"regelId", "identifierVeldWaarde", "afwijkendeAttribuutWaarde", "dqDatum"}
        return [c for c in cols if c in df.columns and c not in reserved]

    # -- public ------------------------------------------------------------

    def run(self, df: DataFrame) -> ValidationRunResult:
        # run-scoped persist registry, passed EXPLICITLY down the call chain
        # (never stashed on the instance: two concurrent run() calls on one
        # engine must not cross-register frames into each other's cleanup
        # lists); list.append is GIL-atomic, so pool-thread helpers may
        # append concurrently. A failed run releases what it registered —
        # a leaked frame would serve a later run of the same plan stale rows.
        persisted_frames: list[DataFrame] = []
        try:
            return self._run(df, persisted_frames)
        except BaseException:
            _unpersist_all(persisted_frames)
            raise

    def _run(
        self, df: DataFrame, persisted_frames: list[DataFrame]
    ) -> ValidationRunResult:
        t0 = time.monotonic()
        rd: RulesDict = self.rules_doc.table(self.settings.table_name)
        table_id = self.rules_doc.table_id(rd.table_name)
        run_time = _utcnow()
        id_cols = rd.unique_identifier_list

        compiled = compile_suite(rd.rules, df, table_id)
        ids = compute_regel_ids_bulk(
            self.spark,
            [(c.regel_naam, c.regel_parameters_str, c.bron_tabel_id) for c in compiled],
        )
        for c, rid in zip(compiled, ids):
            c.regel_id = rid

        by_kind: dict[str, list[CompiledRule]] = {}
        for c in compiled:
            by_kind.setdefault(c.kind, []).append(c)

        results: list[RuleResult] = []
        violation_frames: list[DataFrame] = []

        results += self._run_schema_rules(df, by_kind.get("schema", []))

        # Independent metric passes are SUBMITTED CONCURRENTLY from driver
        # threads (Spark job submission is thread-safe): the driver-side
        # sequential fraction (Catalyst planning + codegen + scheduling per
        # job) otherwise dominates wall time once executors are plentiful —
        # measured: 13 sequential jobs capped a 4x-core speedup at ~1.2x.
        from concurrent.futures import ThreadPoolExecutor

        predicate_rules = by_kind.get("predicate", [])
        observed_rules = by_kind.get("agg_observed", [])
        observable_rules = [c for c in observed_rules if c.observable]
        distinct_rules = [c for c in observed_rules if not c.observable]

        n_violation_rows = None
        drift_fut = None
        phase_t: dict[str, float] = {"compile": time.monotonic() - t0}
        drift_rules = by_kind.get("drift", [])
        # the distinct-agg and drift passes touch only a handful of (possibly
        # DERIVED) columns — e.g. a length(content) column re-derives the
        # widest column of the table per pass. Share ONE narrow projection:
        # each extra pass then reads a ~1%-width cached projection instead of
        # re-scanning + re-deriving from the wide input (bandwidth, not CPU,
        # is the scaling ceiling on dense hosts — BENCH/BASELINE.md notes).
        narrow_df = None
        if (len(distinct_rules) + len(drift_rules)) >= 2:
            narrow_cols = sorted(
                {
                    c.attribute
                    for c in distinct_rules + drift_rules
                    if isinstance(c.attribute, str)
                }
            )
            if narrow_cols:
                narrow_df = df.select(*narrow_cols).persist()
                persisted_frames.append(narrow_df)

        with ThreadPoolExecutor(max_workers=8) as pool:
            # separate tiny aggs only for exact-DISTINCT / heavy-buffer
            # rules, which can't ride CollectMetrics — ONE JOB PER RULE,
            # submitted concurrently: a combined agg that mixes a
            # COUNT(DISTINCT) with collect_set/percentile buffers plans
            # an Expand that multiplies the (narrow, cached) input, and
            # each single-rule agg prunes to its one column (same
            # split profiling.profile_table uses). Values unchanged —
            # every observed_expr is computed over the same rows.
            distinct_futs = [
                pool.submit(
                    self._run_stats_pass,
                    narrow_df if narrow_df is not None else df,
                    [cr],
                )
                for cr in distinct_rules
            ]
            # uniqueness/referential need total_rows only for percentages —
            # the full jobs (aggregation AND shaped violation frames) run on
            # pool threads, overlapping the fused scan; totals fill in after
            key_futs = [
                (
                    phase,
                    [
                        (
                            cr,
                            pool.submit(
                                key_pass, df, cr, id_cols, rd.mask_columns, persisted_frames
                            ),
                        )
                        for cr in by_kind.get(kind, [])
                    ],
                )
                for phase, kind, key_pass in (
                    ("uniq_wait", "groupby_unique", self._dup_key_stats),
                    ("ref_wait", "referential", self._referential_violation_count),
                )
            ]
            if drift_rules:
                from .drift import run_drift_rules

                drift_fut = pool.submit(
                    run_drift_rules,
                    self.spark,
                    narrow_df if narrow_df is not None else df,
                    drift_rules,
                    table_id,
                    self.baseline_store,
                )

            if predicate_rules:
                # ONE full-width pass: stats aggregates observed on the same
                # scan that extracts violation rows (df.observe /
                # CollectMetrics); the violation frame is persisted so the
                # caller's consumption doesn't rescan the input
                from pyspark.sql import Observation

                # stable name: Observation() defaults to a fresh UUID, which
                # varies the plan between runs; a constant name keeps plan
                # text (and codegen cache keys) identical across repeated
                # runs of the same suite
                obs = Observation(f"dq_stats_{rule_set_hash(rd.rules)}")
                # the expensive predicate sums are NOT in the observe —
                # per-rule unexpected counts come from the persisted
                # violation frame below (see _stats_exprs)
                observed_df = df.observe(
                    obs, *self._stats_exprs(predicate_rules, observable_rules)
                )
                # persist + count the PRE-limit violations: the observe node
                # must deliver before any post-shuffle stage — AQE's
                # empty-relation propagation would otherwise drop
                # CollectMetrics when violations are empty (the common clean-
                # data case). The limit/grouping shape then runs on the
                # already-materialized frame, which is cheap.
                viol = self._predicate_violations(
                    observed_df, predicate_rules, id_cols, rd.mask_columns
                ).persist()
                persisted_frames.append(viol)
                _t = time.monotonic()
                n_violation_rows = viol.count()  # action -> metrics delivered
                phase_t["fused_scan"] = time.monotonic() - _t
                shaped_fused = self._apply_violation_shape(
                    viol,
                    n_rows_hint=n_violation_rows,
                    persisted_frames=persisted_frames,
                ).persist()
                persisted_frames.append(shaped_fused)
                # warm the shaped frame on a pool thread (overlaps the
                # remaining uniq/ref/drift waits) so downstream afwijking
                # consumption is a union of materialized frames
                pool.submit(shaped_fused.count)
                violation_frames.append(shaped_fused)
                # per-rule unexpected counts off the persisted (tiny) frame —
                # one cheap job instead of interpreted sums in the observe
                _t = time.monotonic()
                u_map = {
                    r["regelId"]: int(r["n"])
                    for r in viol.groupBy("regelId")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                phase_t["viol_counts"] = time.monotonic() - _t
                stat_results, total_rows = self._stats_results_from_row(
                    dict(obs.get), predicate_rules, observable_rules, u_map
                )
            else:
                # no violation scan to ride: the same observable aggregates
                # run as one plain agg (a violation scan over an empty
                # array could not carry v.regelId)
                _t = time.monotonic()
                stat_results, total_rows = self._run_stats_pass(df, observable_rules)
                phase_t["fused_scan"] = time.monotonic() - _t
            _t = time.monotonic()
            for fut in distinct_futs:
                stat_results += fut.result()[0]
            phase_t["distinct_wait"] = time.monotonic() - _t
            # validatie row order is part of the output: predicate rules,
            # then the aggregates observed on the scan ahead of the
            # per-rule aggregate jobs; without predicate rules, suite order
            by_rule = {id(r.compiled): r for r in stat_results}
            order = observable_rules + distinct_rules if predicate_rules else observed_rules
            results += [by_rule[id(c)] for c in predicate_rules + order]
            for phase, futs in key_futs:
                _t = time.monotonic()
                for cr, fut in futs:
                    unexpected, shaped = fut.result()
                    results.append(_key_rule_result(cr, unexpected, total_rows))
                    if shaped is not None:
                        violation_frames.append(shaped)
                phase_t[phase] = time.monotonic() - _t
            if drift_fut is not None:
                _t = time.monotonic()
                results += drift_fut.result()
                phase_t["drift_wait"] = time.monotonic() - _t

        # table-level failures (observed_value shape): one afwijking row,
        # identifier NULL (reference: output_transformations.py:611-623)
        observed_failures = [
            r
            for r in results
            if not r.success
            and r.compiled.kind in ("agg_observed", "schema", "drift")
        ]

        _t = time.monotonic()
        validatie = self._build_validatie(results, run_time)
        afwijking = self._build_afwijking(violation_frames, observed_failures, run_time)
        phase_t["build_outputs"] = time.monotonic() - _t

        failed_rules = [r.compiled.rule for r in results if not r.success]
        wall = time.monotonic() - t0
        metrics = {
            "input_rows": total_rows,
            "n_rules": len(compiled),
            "wall_seconds": wall,
            "rule_set_hash": rule_set_hash(rd.rules),
            "phase_seconds": {k: round(v, 3) for k, v in phase_t.items()},
        }
        if n_violation_rows is not None:
            metrics["predicate_violation_rows"] = n_violation_rows
        return ValidationRunResult(
            table_id=table_id,
            run_time=run_time,
            rule_results=results,
            validatie=validatie,
            afwijking=afwijking,
            success=not failed_rules,
            highest_severity_level=highest_severity(failed_rules),
            metrics=metrics,
            persisted_frames=persisted_frames,
        )

    # -- pass 0: schema ------------------------------------------------------

    def _run_schema_rules(self, df: DataFrame, rules: list[CompiledRule]) -> list[RuleResult]:
        out = []
        for cr in rules:
            observed, ok = cr.schema_check(df)
            out.append(RuleResult(compiled=cr, success=ok, observed_value=observed))
        return out

    # -- pass 1: fused stats ---------------------------------------------------

    def _stats_exprs(
        self,
        predicate_rules: list[CompiledRule],
        observed_rules: list[CompiledRule],
    ) -> list:
        """Row count, per-rule condition and missing counts and the
        observable rules' aggregates. The per-rule unexpected counts are
        NOT aggregated here — they come from counting the persisted
        violation frame per regelId. Rationale: df.observe (CollectMetrics)
        evaluates its aggregate expressions INTERPRETED per row (no
        whole-stage codegen), so putting ``sum(violation_pred)`` in the
        observe re-runs every regex/sha predicate a second time ~10x slower
        than the codegen'd violation array right next to it (measured:
        84-93s fused scan vs ~55s for both separate passes at 32 cores/16M
        rows). The remaining observed exprs (count, isNull sums, condition
        sums, min/max/mean) are cheap under interpretation."""
        exprs = [F.count(F.lit(1)).alias("__total")]
        # several rules on the SAME column share one missing-count
        # aggregate: CollectMetrics evaluates its exprs interpreted per
        # row, so duplicate sum(isNull) exprs cost real scan time for
        # identical values — _miss_indices maps each rule to the first
        # rule with the same (attribute, condition)
        miss_idx = self._miss_indices(predicate_rules)
        for i, cr in enumerate(predicate_rules):
            if cr.condition is not None:
                exprs.append(F.sum(cr.condition.cast("long")).alias(f"n_{i}"))
            if miss_idx.get(i) == i:
                miss = F.col(cr.attribute).isNull()
                if cr.condition is not None:
                    miss = cr.condition & miss
                exprs.append(F.sum(miss.cast("long")).alias(f"m_{i}"))
        for j, cr in enumerate(observed_rules):
            exprs.append(cr.observed_expr.alias(f"o_{j}"))
        return exprs

    @staticmethod
    def _miss_indices(predicate_rules: list[CompiledRule]) -> dict[int, int]:
        """rule index -> index of the rule whose m_<idx> aggregate carries
        its missing count (the first rule with the same attribute and
        condition); rules without a missing count are absent."""
        first_by_key: dict[tuple, int] = {}
        out: dict[int, int] = {}
        for i, cr in enumerate(predicate_rules):
            if (
                cr.regel_naam in _NULL_COUNTING_RULES
                or not isinstance(cr.attribute, str)
            ):
                continue
            key = (
                cr.attribute,
                str(cr.condition) if cr.condition is not None else None,
            )
            out[i] = first_by_key.setdefault(key, i)
        return out

    def _run_stats_pass(
        self, df: DataFrame, observed_rules: list[CompiledRule]
    ) -> tuple[list[RuleResult], int]:
        """The aggregate rules' stats as one plain ``df.agg`` (no predicate
        rules: there is no violation scan to observe)."""
        row = df.agg(*self._stats_exprs([], observed_rules)).collect()[0].asDict()
        return self._stats_results_from_row(row, [], observed_rules, {})

    def _stats_results_from_row(
        self,
        row: dict,
        predicate_rules: list[CompiledRule],
        observed_rules: list[CompiledRule],
        unexpected_by_rule: dict[str, int],
    ) -> tuple[list[RuleResult], int]:
        """``unexpected_by_rule``: regelId -> violation-row count from the
        persisted violation frame (empty without predicate rules)."""
        total = int(row["__total"])

        miss_idx = self._miss_indices(predicate_rules)
        results: list[RuleResult] = []
        for i, cr in enumerate(predicate_rules):
            # `or 0`: F.sum returns NULL on empty input / all-NULL condition
            element = int(row[f"n_{i}"] or 0) if f"n_{i}" in row else total
            unexpected = int(unexpected_by_rule.get(cr.regel_id, 0))
            missing = int(row.get(f"m_{miss_idx[i]}") or 0) if i in miss_idx else 0
            denom = element - missing
            percent = (unexpected / denom * 100.0) if denom > 0 else None
            results.append(
                RuleResult(
                    compiled=cr,
                    success=unexpected == 0,
                    element_count=element,
                    unexpected_count=unexpected,
                    unexpected_percent=percent,
                )
            )
        for j, cr in enumerate(observed_rules):
            observed = row[f"o_{j}"]
            results.append(
                RuleResult(
                    compiled=cr,
                    success=bool(cr.success_fn(observed)),
                    element_count=total,
                    observed_value=cr.observed_repr(observed),
                )
            )
        return results, total

    # -- pass 2: fused violation scan --------------------------------------------

    def _predicate_violations(
        self,
        df: DataFrame,
        rules: list[CompiledRule],
        id_cols: list[str],
        mask_columns: list[str] | None,
    ) -> DataFrame:
        """ONE scan emitting (regelId, identifierVeldWaarde,
        afwijkendeAttribuutWaarde) for all predicate rules: per row build an
        array of per-rule structs, explode, drop the nulls. The NULL drop
        runs AFTER the explode as a codegen'd row filter — the
        ``F.filter(array, ...)`` higher-order form evaluates its lambda
        INTERPRETED per (row, rule), which measured 2x slower on the
        40-rule/2M-row suite (median 13.5s vs 6.0s fused scan, identical
        output rows) even though the explode multiplies rows by the rule
        count before filtering."""
        entries = []
        for cr in rules:
            pred = cr.violation_pred
            if cr.condition is not None:
                pred = cr.condition & pred
            entries.append(
                F.when(
                    pred,
                    F.struct(
                        F.lit(cr.regel_id).alias("regelId"),
                        _masked_value_col(cr, mask_columns).cast("string").alias("value"),
                    ),
                )
            )
        carry = self._carry_cols(df)
        # carry the RAW id columns through the explode and format the
        # "[id1, id2]" repr only on the rows that survive the NULL drop:
        # the explode joins every input row with all #rules array slots,
        # so anything in the child projection is copied #rules times —
        # formatting 10^6 rows' repr strings and copying them 40x each
        # measured as a real fraction of the fused scan, while the
        # violation survivors (the only rows that need the repr) are
        # orders of magnitude fewer. Aliased __id<i> columns avoid
        # collisions with carry/source names; values and output rows are
        # identical.
        id_aliases = [F.col(c).alias(f"__id{i}") for i, c in enumerate(id_cols)]
        id_types = [df.schema[c].dataType for c in id_cols]
        reprs = [
            python_repr_column(F.col(f"__id{i}"), t) for i, t in enumerate(id_types)
        ]
        ids_repr = F.concat(
            F.lit("[["), F.concat_ws(", ", *reprs), F.lit("]]")
        )
        return (
            df.select(
                *id_aliases,
                F.array(*entries).alias("__v"),
                *carry,
            )
            .select(
                *[f"__id{i}" for i in range(len(id_cols))],
                F.explode("__v").alias("v"),
                *carry,
            )
            .filter(F.col("v").isNotNull())
            .select(
                F.col("v.regelId").alias("regelId"),
                ids_repr.alias("identifierVeldWaarde"),
                F.col("v.value").alias("afwijkendeAttribuutWaarde"),
                *carry,
            )
        )

    def _apply_violation_shape(
        self,
        viol: DataFrame,
        n_rows_hint: int | None,
        persisted_frames: list[DataFrame],
    ) -> DataFrame:
        """Apply violation_mode + per-rule limit. 'row' keeps one output row
        per violating source row (bounded by violation_limit via a window
        over the — much smaller — violations frame). 'grouped' reproduces the
        reference's one-row-per-unique-deviating-value shape with all ids
        collected, computed distributively.

        ``n_rows_hint``: known total size of ``viol`` (fused mode counts it;
        key rules know their unexpected count), see _salted_cap."""
        settings = self.settings
        if settings.violation_mode == "grouped":
            # BOUNDED state: ids are capped per (regelId, value) BEFORE
            # collect_list — a hot deviating value (e.g. every null violation
            # shares value 'None') with 10^9 rows must never materialize an
            # unbounded array in one agg buffer. Two-stage salted window caps
            # each salt slice at `limit` (balanced shuffle), then an exact
            # window keeps the lexicographically-smallest `limit` ids —
            # deterministic output, unlike raw collect_list order. The total
            # per group is aggregated separately (map-side partial, tiny
            # result) and groups that overflow get an explicit
            # ', ...(+N more)' marker instead of the reference's silent
            # 200-id cliff (README.md:144).
            limit = settings.violation_limit or GROUPED_DEFAULT_LIMIT
            # struct-wrapped value: null deviating values (e.g. every
            # not-null violation) must group AND join null-safely
            viol_k = viol.withColumn(
                "__gv", F.struct(F.col("afwijkendeAttribuutWaarde"))
            )
            # the grouped plan consumes viol_k from TWO subtrees (the total-
            # count aggregation and the salted/exact cap chain) whose
            # exchanges differ, so ReuseExchange can't collapse them — an
            # unpersisted source (e.g. the uniqueness semi-join re-scan)
            # would be computed twice per rule set. Persist it unless the
            # input is already cached (the fused path persists `viol`
            # upstream; a second cache of the same rows buys nothing),
            # registering with the run's cleanup list.
            if viol.storageLevel == StorageLevel.NONE:
                viol_k = viol_k.persist()
                persisted_frames.append(viol_k)
            keys = ["regelId", "__gv"]
            counts = viol_k.groupBy(*keys).agg(F.count(F.lit(1)).alias("__total"))
            capped = _salted_cap(
                viol_k, keys, "identifierVeldWaarde", limit, n_rows_hint
            )
            grouped = capped.groupBy(*keys).agg(
                F.array_sort(F.collect_list("identifierVeldWaarde")).alias("__ids")
            )
            joined = grouped.join(counts, on=keys)
            overflow = F.col("__total") - F.size("__ids")
            # each element is "[...]"-formatted already; strip the outer
            # brackets of the per-row shape and re-wrap the group
            inner = F.transform(
                F.col("__ids"), lambda x: F.regexp_replace(x, r"^\[|\]$", "")
            )
            suffix = F.when(
                overflow > 0,
                F.concat(F.lit(", ...(+"), overflow.cast("string"), F.lit(" more)")),
            ).otherwise(F.lit(""))
            return joined.select(
                "regelId",
                F.concat(
                    F.lit("["), F.concat_ws(", ", inner), suffix, F.lit("]")
                ).alias("identifierVeldWaarde"),
                F.col("__gv.afwijkendeAttribuutWaarde").alias(
                    "afwijkendeAttribuutWaarde"
                ),
            )
        if settings.violation_limit:
            return _salted_cap(
                viol, ["regelId"], F.lit(1), settings.violation_limit, n_rows_hint
            )
        return viol

    # -- passes 3+4: key rules (uniqueness, referential) ----------------------------

    def _key_violations(
        self,
        viol_rows: DataFrame,
        cr: CompiledRule,
        keys: list[str],
        id_cols: list[str],
        mask_columns: list[str] | None,
        unexpected: int,
        persisted_frames: list[DataFrame],
    ) -> DataFrame:
        """Shaped afwijking rows of a key rule over its violating source
        rows (a semi/anti-join of the input: same columns). Deviating
        value: str(tuple of (col, value) pairs) for compound keys
        (reference str(tuple(dict.items()))); plain value else.

        LAZY on purpose: materializing here (persist+count) contends with
        the fused scan for cores and extends the critical path (measured
        +11s at 32c/16M); at consumption the key-pruned re-scan runs on an
        otherwise idle cluster."""
        if len(keys) == 1:
            k = keys[0]
            if mask_columns and k in mask_columns:
                value_col = F.lit(MASKED)
            else:
                value_col = F.col(k).cast("string")
        else:
            parts = []
            for k in keys:
                val_repr = (
                    F.lit(f"'{MASKED}'")
                    if (mask_columns and k in mask_columns)
                    else python_repr_column(F.col(k), viol_rows.schema[k].dataType)
                )
                parts.append(F.concat(F.lit(f"('{k}', "), val_repr, F.lit(")")))
            value_col = F.concat(F.lit("("), F.concat_ws(", ", *parts), F.lit(")"))
        viol = viol_rows.select(
            F.lit(cr.regel_id).alias("regelId"),
            _ids_repr_col(viol_rows, id_cols).alias("identifierVeldWaarde"),
            value_col.alias("afwijkendeAttribuutWaarde"),
            *self._carry_cols(viol_rows),
        )
        return self._apply_violation_shape(viol, unexpected, persisted_frames)

    def _dup_key_stats(
        self,
        df: DataFrame,
        cr: CompiledRule,
        id_cols: list[str],
        mask_columns: list[str] | None,
        persisted_frames: list[DataFrame],
    ) -> tuple[int, DataFrame | None]:
        """FULL uniqueness work, run on a pool thread so it overlaps the
        fused scan: duplicate-key detection via
        ``groupBy(keys).count().filter(>1)`` (map-side partial counts — hot
        keys shuffle one row per input partition, skew-safe; AQE coalesces
        the reduce side), then — when duplicates exist — the shaped
        violation frame over the key-pruned semi-join back to the input."""
        keys = cr.key_cols
        # explicit projection before the shuffle: guarantees only the key
        # columns are scanned/shuffled even when the input is cached or the
        # optimizer misses pruning through a persisted relation
        dup_keys = (
            df.select(*keys)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
        ).persist()
        persisted_frames.append(dup_keys)
        stats = dup_keys.agg(
            F.coalesce(F.sum("__cnt"), F.lit(0)).alias("rows"),
            F.count(F.lit(1)).alias("groups"),
        ).collect()[0]
        unexpected = int(stats["rows"])
        if not unexpected:
            return 0, None
        # violations: rows participating in duplicate groups. The duplicate
        # key set is usually tiny -> broadcast the semi-join.
        join_side = dup_keys.select(*keys)
        if int(stats["groups"]) <= 1_000_000:
            join_side = F.broadcast(join_side)
        viol_rows = df.join(join_side, on=keys, how="left_semi")
        return unexpected, self._key_violations(
            viol_rows, cr, keys, id_cols, mask_columns, unexpected, persisted_frames
        )

    def _referential_violation_count(
        self,
        df: DataFrame,
        cr: CompiledRule,
        id_cols: list[str],
        mask_columns: list[str] | None,
        persisted_frames: list[DataFrame],
    ) -> tuple[int, DataFrame | None]:
        """FULL referential work on a pool thread (overlaps the fused scan):
        left-anti join + count, and — when violations exist — the shaped
        violation frame (same rationale as _dup_key_stats).

        Join strategy is SIZE-GUARDED like the uniqueness path
        (_dup_key_stats): the distinct reference key set is persisted and
        counted first; at or below ``REF_BROADCAST_MAX_KEYS`` it is
        broadcast (no shuffle of the big side — the common small-dimension
        case), above it the hint is dropped so AQE plans a shuffle/sort-
        merge anti-join with skew handling — an unconditional broadcast of
        a fact-sized reference (e.g. content-hash vs a billion-row table)
        would OOM the driver/executors at 100x scale."""
        ref_df = self.ref_tables.get(cr.ref_table)
        if ref_df is None:
            raise ValueError(
                f"Referential rule needs table '{cr.ref_table}' in ref_tables"
            )
        c = cr.attribute
        ref_keys = ref_df.select(F.col(cr.ref_column).alias(c)).distinct().persist()
        persisted_frames.append(ref_keys)
        # one aggregate over the persisted keys yields count AND average
        # serialized width — the byte estimate keeps wide string keys from
        # slipping under the row-count guard
        stats = ref_keys.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.octet_length(F.col(c).cast("string"))).alias("w"),
        ).collect()[0]
        n_keys = int(stats["n"])
        est_bytes = int(n_keys * float(stats["w"] or 0.0))
        viol_rows = referential_anti_join(df, ref_keys, n_keys, c, est_bytes)
        unexpected = int(viol_rows.agg(F.count(F.lit(1)).alias("u")).collect()[0]["u"])
        if not unexpected:
            return 0, None
        return unexpected, self._key_violations(
            viol_rows, cr, [c], id_cols, mask_columns, unexpected, persisted_frames
        )

    # -- result assembly -------------------------------------------------------------

    def _build_validatie(
        self, results: list[RuleResult], run_time: datetime.datetime
    ) -> DataFrame:
        """validatie facts — reference semantics
        (output_transformations.py:437-497): aantalValideRecords =
        max(element - unexpected, 0); percentageValideRecords truncated via
        ``int(100 - unexpected_percent) / 100``; row-count rules carry the
        observed count as aantalReferentieRecords only."""
        rows = []
        for r in results:
            cr = r.compiled
            if cr.regel_naam.startswith("ExpectTableRowCount"):
                total = int(r.observed_value) if r.observed_value is not None else None
                valid = None
                pct = None
            else:
                total = r.element_count
                valid = (
                    max(total - r.unexpected_count, 0)
                    if (total is not None and r.unexpected_count is not None)
                    else None
                )
                pct = (
                    int(100.0 - float(r.unexpected_percent)) / 100.0
                    if r.unexpected_percent is not None
                    else None
                )
            rows.append(
                (
                    r.regel_id,
                    valid,
                    total,
                    pct,
                    run_time,
                    "success" if r.success else "failure",
                )
            )
        return self.spark.createDataFrame(rows, VALIDATIE_SCHEMA)

    def _build_afwijking(
        self,
        violation_frames: list[DataFrame],
        observed_failures: list[RuleResult],
        run_time: datetime.datetime,
    ) -> DataFrame:
        frames = list(violation_frames)
        if observed_failures:
            rows = [
                (r.regel_id, None, str(r.observed_value)) for r in observed_failures
            ]
            frames.append(
                self.spark.createDataFrame(
                    rows, "regelId string, identifierVeldWaarde string, afwijkendeAttribuutWaarde string"
                )
            )
        if not frames:
            return self.spark.createDataFrame([], AFWIJKING_SCHEMA)
        out = frames[0]
        for f in frames[1:]:
            # allowMissingColumns: carried partition columns (see
            # _carry_cols) are absent from observed-value failure rows —
            # those fill with NULL
            out = out.unionByName(f, allowMissingColumns=True)
        base_cols = AFWIJKING_SCHEMA.fieldNames()
        extra = [c for c in out.columns if c not in base_cols]
        return out.withColumn("dqDatum", F.lit(run_time)).select(base_cols + extra)


def run_validation(
    spark: SparkSession,
    df: DataFrame,
    rules_doc: DataQualityRulesDict,
    table_name: str,
    settings: ValidationSettings | None = None,
    ref_tables: dict[str, DataFrame] | None = None,
    baseline_store: Any = None,
) -> ValidationRunResult:
    """One-call API (mirrors the reference's run_validation surface,
    validation.py:348-475, minus Unity-Catalog specifics)."""
    settings = settings or ValidationSettings(table_name=table_name)
    if settings.table_name != table_name:
        settings.table_name = table_name
    engine = ValidationEngine(
        spark, rules_doc, settings, ref_tables=ref_tables, baseline_store=baseline_store
    )
    result = engine.run(df)
    if settings.write_results and settings.output_path:
        from .writers import write_run_outputs

        write_run_outputs(spark, rules_doc, result, settings)
    return result
