"""Checkpoint-resumable partitioned validation with lineage + metrics rows.

North-rule requirement (BASELINE.json): the 10^12-file job must be resumable
per partition. Design (SURVEY.md §2.5: a *batch resume ledger*, not streaming
state):

- the input is split into ``n_buckets`` hash buckets of the partition
  columns (default ``(repo, lang)``) — each bucket is one atomic unit of
  work, processed fully distributed;
- a JSON-lines ledger records each completed bucket with lineage (rule-set
  hash, input snapshot id, row counts, violation counts, wall time);
- on restart, completed buckets for the same ``(run_id, rule_set_hash)``
  are skipped; a partially-written bucket is re-run idempotently because
  fact writes happen before the ledger mark (write-then-mark) and outputs
  carry the bucket id, so re-runs can overwrite their own bucket partition.

Bucketing keeps the driver loop O(n_buckets) (16-64), never O(#repos):
giant monorepos are *split across* buckets only by (repo, lang) pairs, and
skew inside a bucket is handled by AQE + map-side partial aggregation.

Read amplification: a naive per-bucket filter of
``pmod(xxhash64(partition_cols), n) == bucket`` is opaque to every storage
format — each of the n bucket iterations would re-scan the FULL input
(n x read amplification on the very feature meant to save work). Instead,
ONE tiny column-pruned distinct scan of the partition columns assigns each
distinct value tuple to a bucket; each bucket's filter is then expressed on
the partition columns themselves (per-column IN-lists for parquet min/max +
Hive partition pruning, plus an exact IN on the tuple key — an expression
over partition columns, which Spark's FileSourceStrategy evaluates against
the partition spec at planning time). On a (repo, lang)-partitioned table
the n bucket reads together touch each file exactly once ~= 1 input scan
total. Buckets with no keys short-circuit to an empty local relation (zero
jobs).

When the partition columns have more than ``MAX_BUCKET_KEYS`` distinct
tuples the driver IN-lists would no longer be plan-sized, and the loop falls
back to the hash filter: still correct, at the cost of one input scan per
bucket.
"""

from __future__ import annotations

import datetime
import json
import time
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio
from .common import DataQualityRulesDict, ValidationSettings
from .engine import ValidationEngine, rule_set_hash
from .schemas import LEDGER_SCHEMA

#: most distinct partition-column tuples expressed as bucket IN-lists; above
#: it the bucket loop falls back to the hash filter
MAX_BUCKET_KEYS = 200_000


class RunLedger:
    """JSON-lines completion ledger. Append-only; idempotent re-marks OK.

    Accepts a local path (direct O_APPEND writes) or a Hadoop URI
    (``s3a://``/``hdfs://``/``abfs://`` — see fsio.py), so on a real cluster
    the ledger lives in shared storage and survives an ephemeral driver.
    URI appends are read-modify-write of the whole (small) file: if the
    driver dies mid-write the worst case is losing the LAST mark, which the
    write-then-mark protocol already tolerates (that bucket re-runs
    idempotently)."""

    def __init__(self, path: str | Path, spark: SparkSession | None = None) -> None:
        self.path_str = str(path)
        self._spark = spark
        self._is_uri = fsio.is_uri(self.path_str)
        if not self._is_uri:
            Path(self.path_str).parent.mkdir(parents=True, exist_ok=True)

    @property
    def path(self) -> Path:
        return Path(self.path_str)

    def _read_lines(self) -> list[str]:
        text = fsio.read_text(self.path_str, self._spark)
        return text.splitlines() if text else []

    def completed_buckets(
        self,
        run_id: str,
        ruleset_hash: str,
        table_id: str | None = None,
        input_snapshot: str | None = None,
    ) -> set[int]:
        """Buckets already marked done for (runId, ruleSetHash, bronTabelId,
        inputSnapshot).

        ``table_id`` is part of the match: one ledger file can serve several
        tables under the same run_id without the second table's buckets being
        silently skipped. ``input_snapshot`` likewise: a run resumed after
        the input data was replaced must NOT skip buckets validated against
        the old snapshot (mixed-snapshot results with no warning).
        ``None`` matches any (legacy records / callers that don't version
        their input)."""
        done = set()
        for line in self._read_lines():
            if not line.strip():
                continue
            rec = json.loads(line)
            if (
                rec.get("runId") == run_id
                and rec.get("ruleSetHash") == ruleset_hash
                and (table_id is None or rec.get("bronTabelId") == table_id)
                and (
                    input_snapshot is None
                    or rec.get("inputSnapshot", "") == input_snapshot
                )
                and rec.get("status") == "done"
            ):
                done.add(int(rec["bucket"]))
        return done

    def mark(self, record: dict[str, Any]) -> None:
        line = json.dumps(record, default=str) + "\n"
        if self._is_uri:
            text = fsio.read_text(self.path_str, self._spark) or ""
            fsio.write_text(self.path_str, text + line, self._spark)
            return
        with self.path.open("a") as fh:
            fh.write(line)

    def records(self) -> list[dict]:
        return [json.loads(l) for l in self._read_lines() if l.strip()]


def _bucket_expr(partition_columns: list[str], n_buckets: int):
    """Deterministic bucket assignment over the partition-column values."""
    return F.pmod(
        F.xxhash64(
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\0"))
                for c in partition_columns
            ]
        ),
        F.lit(n_buckets),
    )


def _tuple_key_expr(partition_columns: list[str]):
    """Single string key for a partition-column tuple (null-safe: concat_ws
    silently drops nulls, so nulls are sentinel-coalesced first)."""
    return F.concat_ws(
        "\x01",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in partition_columns],
    )


def value_bucket_predicates(
    df: DataFrame,
    partition_columns: list[str],
    n_buckets: int,
) -> list | None:
    """Per-bucket filters expressed on the partition COLUMNS (prunable),
    derived from one column-pruned distinct scan.

    Returns a list of length ``n_buckets``: a Column predicate per bucket,
    or ``None`` for a provably-empty bucket. Returns ``None`` (overall) when
    the distinct tuple count exceeds ``MAX_BUCKET_KEYS``.

    Each bucket predicate is (tuple-key IN-list) AND (bucket-hash == b)
    AND (per-column IN-list per partition column). The per-column lists
    are supersets — they exist for storage pruning (Hive partition
    pruning, parquet min/max row-group skipping); the bucket-hash
    equality gives EXACT, non-overlapping membership (the concat key
    alone is not injective under adversarial separator bytes); all three
    are expressions over partition columns, so FileSourceStrategy
    evaluates them against the partition spec at planning time too.
    """
    key = _tuple_key_expr(partition_columns)
    rows = (
        df.select(*partition_columns)
        .distinct()
        .select(
            *partition_columns,
            key.alias("__key"),
            _bucket_expr(partition_columns, n_buckets).alias("__bucket"),
        )
        .limit(MAX_BUCKET_KEYS + 1)
        .collect()
    )
    if len(rows) > MAX_BUCKET_KEYS:
        return None
    keys_by_bucket: dict[int, list[str]] = {}
    vals_by_bucket: dict[int, dict[str, set]] = {}
    for r in rows:
        b = int(r["__bucket"])
        keys_by_bucket.setdefault(b, []).append(r["__key"])
        col_vals = vals_by_bucket.setdefault(b, {c: set() for c in partition_columns})
        for c in partition_columns:
            col_vals[c].add(r[c])
    preds: list = []
    bucket_col = _bucket_expr(partition_columns, n_buckets)
    for b in range(n_buckets):
        if b not in keys_by_bucket:
            preds.append(None)
            continue
        # the concat_ws key is not injective (a partition value containing
        # the \x01 separator or the \0 sentinel can alias another tuple), so
        # a key match alone could admit a row into TWO buckets. ANDing the
        # exact bucket hash makes membership unique regardless of aliasing —
        # still a deterministic expression over partition columns, so
        # FileSourceStrategy evaluates it against the partition spec too.
        pred = key.isin(keys_by_bucket[b]) & (bucket_col == b)
        for c in partition_columns:
            vals = vals_by_bucket[b][c]
            non_null = [v for v in vals if v is not None]
            col_pred = F.col(c).isin(non_null) if non_null else F.lit(False)
            if None in vals:
                col_pred = col_pred | F.col(c).isNull()
            pred = pred & col_pred
        preds.append(pred)
    return preds


def run_partitioned_validation(
    spark: SparkSession,
    df: DataFrame,
    rules_doc: DataQualityRulesDict,
    table_name: str,
    settings: ValidationSettings,
    ledger_path: str | Path,
    partition_columns: list[str] | None = None,
    n_buckets: int = 16,
    run_id: str = "run-0",
    input_snapshot: str = "",
    ref_tables: dict[str, DataFrame] | None = None,
    baseline_store: Any = None,
) -> list[dict]:
    """Validate bucket-by-bucket with resume. Returns the ledger records
    written this call (one per processed bucket). See the module docstring
    for the bucket filters (read-amplification design)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets!r}")
    partition_columns = partition_columns or settings.partition_columns or ["repo", "lang"]
    rd = rules_doc.table(table_name)
    missing = [c for c in partition_columns if c not in df.columns]
    if missing:
        # configured/default partition columns absent from this input (e.g.
        # the repo,lang default on a non-sourcecode table): bucket by the
        # table's unique identifier instead — still a deterministic, evenly
        # splitting resume key
        fallback = [c for c in rd.unique_identifier_list if c in df.columns]
        if not fallback:
            raise ValueError(
                f"partition columns {missing} not in input columns "
                f"{df.columns} and no usable unique identifier to fall back to"
            )
        import warnings

        warnings.warn(
            f"partition columns {missing} not in input; bucketing by "
            f"unique identifier {fallback}",
            stacklevel=2,
        )
        partition_columns = fallback
    rs_hash = rule_set_hash(rd.rules)
    ledger = RunLedger(ledger_path, spark)
    table_id = rules_doc.table_id(table_name)
    # input_snapshot participates in the resume match: "" (unversioned)
    # callers keep legacy behavior, versioned callers re-validate every
    # bucket when the snapshot changes
    done = ledger.completed_buckets(
        run_id, rs_hash, table_id, input_snapshot=input_snapshot
    )

    bucket_preds: list | None = None
    if len(done) < n_buckets:
        bucket_preds = value_bucket_predicates(df, partition_columns, n_buckets)
    hash_bucket_col = _bucket_expr(partition_columns, n_buckets)
    written: list[dict] = []
    if settings.write_results and settings.output_path and len(done) < n_buckets:
        # upsert the metadata dimensions (brondataset/brontabel/bronattribuut/
        # regel/team) ONCE per partitioned run — the per-bucket loop writes
        # only facts, and facts with no regel dimension rows would carry
        # dangling regelIds. merge_upsert is idempotent on the key.
        from .metadata import MERGE_KEYS, build_metadata_frames
        from .writers import merge_upsert

        for name, frame in build_metadata_frames(spark, rules_doc).items():
            merge_upsert(
                spark,
                frame,
                fsio.join_path(settings.output_path, name),
                MERGE_KEYS[name],
                settings.output_format,
            )
    engine = ValidationEngine(
        spark, rules_doc, settings, ref_tables=ref_tables, baseline_store=baseline_store
    )
    for bucket in range(n_buckets):
        if bucket in done:
            continue
        t0 = time.monotonic()
        if bucket_preds is None:  # too many distinct tuples for IN-lists
            part_df = df.filter(hash_bucket_col == bucket)
        elif bucket_preds[bucket] is None:
            # provably-empty bucket: a constant-false filter collapses to an
            # empty LocalRelation (PruneFilters) — no scan, no Spark job
            part_df = df.filter(F.lit(False))
        else:
            part_df = df.filter(bucket_preds[bucket])
        result = engine.run(part_df)
        if settings.write_results and settings.output_path:
            # dynamic partition OVERWRITE, not append: a re-run of a bucket
            # that crashed after writing but before the ledger mark replaces
            # its own partition instead of duplicating rows (write-then-mark
            # idempotency, SURVEY.md §7.4.6)
            for frame, name in ((result.validatie, "validatie"), (result.afwijking, "afwijking")):
                (
                    frame.withColumn("bucket", F.lit(bucket))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .format(settings.output_format)
                    .partitionBy("bucket")
                    .save(fsio.join_path(settings.output_path, name))
                )
        viol = sum(r.unexpected_count or 0 for r in result.rule_results)
        record = {
            "runId": run_id,
            "bronTabelId": table_id,
            "bucket": bucket,
            "partitionKey": "+".join(partition_columns),
            "status": "done",
            "inputRows": result.metrics.get("input_rows"),
            "violationRows": viol,
            "ruleSetHash": rs_hash,
            "inputSnapshot": input_snapshot,
            "wallTimeSeconds": round(time.monotonic() - t0, 3),
            "dqDatum": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        }
        ledger.mark(record)
        written.append(record)
        result.cleanup()  # drop per-bucket persisted intermediates
    return written


def ledger_to_dataframe(spark: SparkSession, ledger: RunLedger) -> DataFrame:
    """Lineage/metrics rows as a DataFrame (LEDGER_SCHEMA)."""
    rows = [
        (
            r.get("runId"),
            r.get("bronTabelId"),
            f'{r.get("partitionKey")}#{r.get("bucket")}',
            r.get("status"),
            r.get("inputRows"),
            r.get("violationRows"),
            r.get("ruleSetHash"),
            r.get("inputSnapshot"),
            float(r.get("wallTimeSeconds") or 0.0),
            datetime.datetime.fromisoformat(r["dqDatum"]).replace(tzinfo=None),
        )
        for r in ledger.records()
    ]
    return spark.createDataFrame(rows, LEDGER_SCHEMA)
