"""The four benchmark workloads.

Each workload generates its inputs from the seed (``generate``), loads them
as DataFrames (``load``), derives the expected rule counts with DuckDB over
the same parquet files (``expect``), and then runs recomputing iterations
(``iterate``), each followed by an output check (``check``) and a release
of everything the iteration persisted (``Iteration.release``).

Every call into a module of the package is wrapped in a span named after
that module, so the traced run can attribute Spark jobs and wall time to
layers.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import contextmanager

import duckdb
import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dq_suite_amsterdam_spark import ValidationSettings
from dq_suite_amsterdam_spark.checkpoint import run_partitioned_validation
from dq_suite_amsterdam_spark.common import (
    DataQualityRulesDict,
    DatasetDict,
    Rule,
    RulesDict,
    TeamDict,
)
from dq_suite_amsterdam_spark.engine import ValidationEngine
from dq_suite_amsterdam_spark.metadata import regel_rows
from dq_suite_amsterdam_spark.operators.dedup import (
    drop_near_duplicates,
    minhash_lsh_candidates,
)
from dq_suite_amsterdam_spark.sourcecode import (
    build_lang_lookup_df,
    forty_rule_suite,
    with_derived_columns,
)
from dq_suite_amsterdam_spark.writers import write_run_outputs

import inputs

#: phase_seconds keys of ValidationRunResult.metrics reported per layer
ENGINE_PHASES = (
    "compile",
    "fused_scan",
    "viol_counts",
    "distinct_wait",
    "uniq_wait",
    "ref_wait",
    "drift_wait",
    "build_outputs",
)


class Iteration:
    """What one iteration produced: its verdict time, the objects the check
    reads, per-layer numbers, and the persisted frames to release."""

    def __init__(self) -> None:
        self.verdict_s: float | None = None
        self.input_rows: int | None = None
        self.unexpected: dict[int, int] = {}  # rule index -> unexpected count
        self.digest: dict | None = None
        self.layers: dict[str, float] = {}
        self.persisted: list[DataFrame] = []
        self.result = None
        self.out: str | None = None  # output directory, when the workload writes

    def release(self) -> None:
        if self.result is not None:
            self.result.cleanup()
        for frame in self.persisted:
            frame.unpersist()
        self.persisted = []


# -- output digests -------------------------------------------------------


def _frame_digest(df: DataFrame, key: str) -> dict:
    """{key: (rows, order-insensitive hash sum)} over every non-timestamp
    column; timestamps (dqDatum) are the run time and differ by design."""
    cols = [f.name for f in df.schema.fields if f.dataType.typeName() != "timestamp"]
    h = F.xxhash64(*[F.col(c) for c in cols]).bitwiseAND(F.lit(0xFFFFFFFF))
    return {
        r[key]: (int(r["n"]), int(r["h"]))
        for r in df.groupBy(key).agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()
    }


def digest_text(digest: dict) -> str:
    return hashlib.sha256(repr(sorted(digest.items(), key=repr)).encode()).hexdigest()[:16]


# -- DuckDB expectations ---------------------------------------------------


def _rule_index(doc: DataQualityRulesDict, name: str, **params) -> int | None:
    for i, rule in enumerate(doc.tables[0].rules):
        if rule.rule_name == name and all(rule.parameters.get(k) == v for k, v in params.items()):
            return i
    return None


def _duck_counts(glob_path: str, checks: list[tuple[int, str]], extra: dict[str, str] | None = None) -> dict[int, int]:
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{glob_path}')")
        for name, path in (extra or {}).items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {idx: int(con.execute(sql).fetchone()[0]) for idx, sql in checks}
    finally:
        con.close()


def _not_null(col: str) -> str:
    return f"SELECT count(*) FROM t WHERE {col} IS NULL"


def _compound_dups(cols: list[str]) -> str:
    key = ", ".join(cols)
    return f"SELECT coalesce(sum(n), 0) FROM (SELECT count(*) AS n FROM t GROUP BY {key} HAVING count(*) > 1)"


def _not_in(col: str, values: list[str]) -> str:
    listed = ", ".join(f"'{v}'" for v in values)
    return f"SELECT count(*) FROM t WHERE {col} IS NOT NULL AND {col} NOT IN ({listed})"


def _sourcecode_checks(doc: DataQualityRulesDict) -> list[tuple[int, str]]:
    """The not-null, regex, in-set, compound-uniqueness and referential rules
    of ``doc`` (the 40-rule suite or a subset), each with the DuckDB query
    of its unexpected count."""
    specs = [
        (("ExpectColumnValuesToNotBeNull", {"column": c}), _not_null(c))
        for c in ("repo", "path", "commit", "lang", "content")
    ]
    specs += [
        (
            ("ExpectColumnValuesToMatchRegex", {"column": "commit"}),
            "SELECT count(*) FROM t WHERE commit IS NOT NULL"
            " AND NOT regexp_matches(commit, '^[0-9a-f]{40}$')",
        ),
        (("ExpectColumnValuesToBeInSet", {"column": "lang"}), _not_in("lang", inputs.LANGS)),
        (
            ("ExpectCompoundColumnsToBeUnique", {"column_list": ["repo", "path", "commit"]}),
            _compound_dups(["repo", "path", "commit"]),
        ),
        # build_lang_lookup_df holds exactly the eight LANGS
        (("ExpectColumnValuesToBeInReferenceTable", {"column": "lang"}), _not_in("lang", inputs.LANGS)),
    ]
    checks = []
    for (name, params), sql in specs:
        idx = _rule_index(doc, name, **params)
        if idx is not None:
            checks.append((idx, sql))
    return checks


def bucket_suite() -> DataQualityRulesDict:
    """Six rules of the 40-rule suite: not-null, regex, in-set, length,
    compound uniqueness and referential. Per-bucket fixed costs, not
    predicate work, dominate this workload."""
    doc = forty_rule_suite()
    rules = doc.tables[0].rules
    wanted = [
        _rule_index(doc, "ExpectColumnValuesToNotBeNull", column="lang"),
        _rule_index(doc, "ExpectColumnValuesToMatchRegex", column="commit"),
        _rule_index(doc, "ExpectColumnValuesToBeInSet", column="lang"),
        _rule_index(doc, "ExpectColumnValueLengthsToBeBetween", column="path"),
        _rule_index(doc, "ExpectCompoundColumnsToBeUnique", column_list=["repo", "path", "commit"]),
        _rule_index(doc, "ExpectColumnValuesToBeInReferenceTable", column="lang"),
    ]
    doc.tables[0].rules = [rules[i] for i in wanted]
    return doc


# -- workloads ---------------------------------------------------------------


class Workload:
    name = ""
    #: traced run only: a workload class run once on this workload's input,
    #: for layers that this workload's own calls do not reach
    probe = None

    def __init__(self, spark: SparkSession, spans, work: str, trace: bool) -> None:
        self.spark = spark
        self.spans = spans
        self.work = work
        self.trace = trace
        self.data = os.path.join(work, "inputs")
        self.expected: dict[int, int] = {}
        self.n_iter = 0
        self._dirs: list[str] = []

    def generate(self, seed: int) -> None:
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        """DuckDB unexpected counts per checked rule index."""

    def iterate(self) -> Iteration:
        raise NotImplementedError

    def check(self, it: Iteration) -> list[str]:
        errors = []
        if it.input_rows != self.n_rows:
            errors.append(f"input_rows {it.input_rows} != generated {self.n_rows}")
        for idx, want in self.expected.items():
            got = it.unexpected.get(idx)
            if got != want:
                errors.append(f"rule #{idx}: unexpected {got} != DuckDB {want}")
        return errors

    def post(self, it: Iteration) -> None:
        """Untimed work after an iteration: output digests, read-backs."""

    def floor_scan(self) -> float | None:
        """Seconds of a noop-sink scan of the validated input (traced only)."""
        return None

    def fresh_dir(self, kind: str) -> str:
        """A new, empty directory for this iteration's outputs."""
        path = os.path.join(self.work, f"{kind}-{self.n_iter}")
        shutil.rmtree(path, ignore_errors=True)
        self._dirs.append(path)
        return path

    def drop_dirs(self) -> None:
        """Delete the iteration's output directories (not timed)."""
        for path in self._dirs:
            shutil.rmtree(path, ignore_errors=True)
        self._dirs = []


def _engine_layers(it: Iteration, metrics: dict) -> None:
    phases = metrics.get("phase_seconds", {})
    for p in ENGINE_PHASES:
        it.layers[f"engine.{p}_s"] = it.layers.get(f"engine.{p}_s", 0.0) + phases.get(p, 0.0)
    it.layers["engine.predicate_violation_rows"] = it.layers.get(
        "engine.predicate_violation_rows", 0
    ) + metrics.get("predicate_violation_rows", 0)


class _EngineWorkload(Workload):
    """One ValidationEngine.run over one table, outputs fully consumed."""

    table = ""
    settings_kw: dict = {}

    def iterate(self) -> Iteration:
        it = Iteration()
        out = self.fresh_dir("out") if self.settings_kw.get("write_results") else None
        settings = ValidationSettings(table_name=self.table, output_path=out, **self.settings_kw)
        engine = ValidationEngine(self.spark, self.doc, settings, ref_tables=self.ref_tables)
        t0 = time.monotonic()
        with self.spans.span("engine.run"):
            res = engine.run(self.df)
        it.verdict_s = time.monotonic() - t0
        it.result = res
        if out is not None:
            with self.spans.span("writers.write_run_outputs"):
                write_run_outputs(self.spark, self.doc, res, settings)
        with self.spans.span("consume"):
            # reading every afwijking row once: per-regelId counts + digest
            afwijking = _frame_digest(res.afwijking, "regelId")
            validatie = res.validatie.collect()
        it.digest = {
            "afwijking": afwijking,
            "validatie": {
                r["regelId"]: tuple(v for k, v in r.asDict().items() if k != "dqDatum")
                for r in validatie
            },
        }
        it.input_rows = res.metrics.get("input_rows")
        it.layers["engine.input_rows"] = it.input_rows
        rules = self.doc.tables[0].rules
        by_rule = {id(r.compiled.rule): r for r in res.rule_results}
        it.unexpected = {i: by_rule[id(rules[i])].unexpected_count for i in self.expected}
        _engine_layers(it, res.metrics)
        it.out = out
        return it


class Suite40(_EngineWorkload):
    """The paper's workload: the 40-rule suite in row mode, no writes."""

    name = "suite40"
    table = "sourcecode"
    settings_kw = {"violation_limit": None}

    def __init__(self, *a, n_rows: int) -> None:
        super().__init__(*a)
        self.n_rows = n_rows
        self.doc = forty_rule_suite()

    def generate(self, seed: int) -> None:
        inputs.write_sourcecode(self.data, self.n_rows, seed)

    def load(self) -> None:
        self.df = with_derived_columns(self.spark.read.parquet(self.data))
        self.ref_tables = {"lang_lookup": build_lang_lookup_df(self.spark)}

    def expect(self) -> None:
        self.expected = _duck_counts(f"{self.data}/*.parquet", _sourcecode_checks(self.doc))

    def floor_scan(self) -> float:
        t0 = time.monotonic()
        with self.spans.span("floor.scan"):
            with_derived_columns(self.spark.read.parquet(self.data)).write.format(
                "noop"
            ).mode("overwrite").save()
        return time.monotonic() - t0


def keys_suite() -> DataQualityRulesDict:
    r = Rule
    rules = [
        r("ExpectColumnValuesToBeUnique", {"column": "order_id"}, severity="fatal"),
        r("ExpectCompoundColumnsToBeUnique", {"column_list": ["shop_id", "order_no"]}, severity="error"),
        r(
            "ExpectColumnValuesToBeInReferenceTable",
            {"column": "product_id", "reference_table": "dim_product", "reference_column": "product_id"},
            severity="error",
        ),
        r(
            "ExpectColumnValuesToBeInReferenceTable",
            {"column": "customer_id", "reference_table": "dim_customer", "reference_column": "customer_id"},
            severity="warning",
        ),
        r("ExpectColumnValuesToNotBeNull", {"column": "order_id"}, severity="fatal"),
        r("ExpectColumnValuesToNotBeNull", {"column": "customer_id"}, severity="warning"),
        r("ExpectColumnValuesToBeBetween", {"column": "amount", "min_value": 0, "max_value": 10000}),
        r("ExpectColumnValuesToBeBetween", {"column": "quantity", "min_value": 1, "max_value": 100}),
        r("ExpectColumnValuesToBeInSet", {"column": "status", "value_set": inputs.STATUSES}),
    ]
    return DataQualityRulesDict(
        dataset=DatasetDict(name="orders", layer="zilver"),
        tables=[RulesDict(unique_identifier=["order_id"], table_name="orders", rules=rules)],
        team=TeamDict(teamid="platform", teamnaam="Platform DQ"),
    )


class Keys(_EngineWorkload):
    """Uniqueness, compound uniqueness and referential rules against a
    broadcast-sized and a shuffle-sized dimension, grouped violation mode,
    outputs written to a fresh directory."""

    name = "keys"
    table = "orders"
    settings_kw = {"violation_mode": "grouped", "write_results": True}

    def __init__(self, *a, n_rows: int) -> None:
        super().__init__(*a)
        self.n_rows = n_rows
        self.doc = keys_suite()

    def generate(self, seed: int) -> None:
        inputs.write_keys(self.data, self.n_rows, seed)

    def load(self) -> None:
        read = self.spark.read.parquet
        self.df = read(os.path.join(self.data, "fact"))
        self.ref_tables = {
            "dim_product": read(os.path.join(self.data, "dim_product")),
            "dim_customer": read(os.path.join(self.data, "dim_customer")),
        }

    def expect(self) -> None:
        doc = self.doc
        checks = [
            (_rule_index(doc, "ExpectColumnValuesToNotBeNull", column="customer_id"), _not_null("customer_id")),
            (_rule_index(doc, "ExpectColumnValuesToBeInSet", column="status"), _not_in("status", inputs.STATUSES)),
            (
                _rule_index(doc, "ExpectCompoundColumnsToBeUnique", column_list=["shop_id", "order_no"]),
                _compound_dups(["shop_id", "order_no"]),
            ),
        ]
        for dim, col in (("dim_product", "product_id"), ("dim_customer", "customer_id")):
            checks.append(
                (
                    _rule_index(doc, "ExpectColumnValuesToBeInReferenceTable", column=col),
                    f"SELECT count(*) FROM t WHERE {col} IS NOT NULL AND {col} NOT IN (SELECT {col} FROM {dim})",
                )
            )
        self.expected = _duck_counts(
            f"{self.data}/fact/*.parquet",
            checks,
            {d: f"{self.data}/{d}/*.parquet" for d in ("dim_product", "dim_customer")},
        )

    def check(self, it: Iteration) -> list[str]:
        errors = super().check(it)
        if not os.path.isdir(os.path.join(it.out, "afwijking")):
            errors.append("afwijking was not written")
        return errors


class Buckets(Workload):
    """checkpoint.run_partitioned_validation: a six-rule suite over four
    (repo, lang) buckets with writes and a fresh ledger per iteration. Runs
    as the traced-only probe of suite40, on suite40's input."""

    name = "buckets"
    n_buckets = 4

    def __init__(self, *a, n_rows: int) -> None:
        super().__init__(*a)
        self.n_rows = n_rows
        self.doc = bucket_suite()

    def load(self) -> None:
        self.df = with_derived_columns(self.spark.read.parquet(self.data))
        self.ref_tables = {"lang_lookup": build_lang_lookup_df(self.spark)}

    def expect(self) -> None:
        self.expected = _duck_counts(f"{self.data}/*.parquet", _sourcecode_checks(self.doc))

    @contextmanager
    def _engine_probe(self, it: Iteration):
        """Traced run only: record the metrics of every ValidationEngine.run
        that the checkpoint loop makes, one per bucket."""
        if not self.trace:
            yield
            return
        original = ValidationEngine.run

        def run(engine, df):
            res = original(engine, df)
            _engine_layers(it, res.metrics)
            return res

        ValidationEngine.run = run
        try:
            yield
        finally:
            ValidationEngine.run = original

    def iterate(self) -> Iteration:
        it = Iteration()
        out = self.fresh_dir("out")
        ledger = os.path.join(self.fresh_dir("ledger"), "ledger.jsonl")
        settings = ValidationSettings(
            table_name="sourcecode", violation_limit=None, write_results=True, output_path=out
        )
        t0 = time.monotonic()
        with self._engine_probe(it), self.spans.span("checkpoint.run_partitioned_validation"):
            records = run_partitioned_validation(
                self.spark,
                self.df,
                self.doc,
                "sourcecode",
                settings,
                ledger_path=ledger,
                n_buckets=self.n_buckets,
                run_id=f"bench-{self.n_iter}",
                ref_tables=self.ref_tables,
            )
        it.verdict_s = time.monotonic() - t0
        it.out = out
        it.records = records
        it.input_rows = sum(int(r["inputRows"] or 0) for r in records)
        it.layers["engine.input_rows"] = it.input_rows
        walls = sorted(float(r["wallTimeSeconds"]) for r in records)
        it.layers["checkpoint.bucket_s"] = walls[len(walls) // 2] if walls else 0.0
        it.layers["checkpoint.bucket_max_s"] = walls[-1] if walls else 0.0
        it.layers["checkpoint.bucket_sum_s"] = sum(walls)
        return it

    def post(self, it: Iteration) -> None:
        """Untimed: read the written facts back; per-rule unexpected counts
        are summed over buckets from validatie (total - valid)."""
        read = self.spark.read.parquet
        validatie = read(os.path.join(it.out, "validatie"))
        afwijking = read(os.path.join(it.out, "afwijking")).drop("bucket")
        it.digest = {
            "validatie": _frame_digest(validatie, "regelId"),
            "afwijking": _frame_digest(afwijking, "regelId"),
        }
        regel = {
            (r["regelNaam"], r["regelParameters"]): r["regelId"]
            for r in read(os.path.join(it.out, "regel")).collect()
        }
        per_rule = {
            r["regelId"]: int(r["u"])
            for r in validatie.groupBy("regelId")
            .agg(F.sum(F.col("aantalReferentieRecords") - F.col("aantalValideRecords")).alias("u"))
            .collect()
        }
        rows = regel_rows(self.doc)
        it.unexpected = {
            i: per_rule.get(regel.get((rows[i][0], rows[i][1]))) for i in self.expected
        }

    def check(self, it: Iteration) -> list[str]:
        errors = super().check(it)
        if len(it.records) != self.n_buckets:
            errors.append(f"{len(it.records)} ledger records for {self.n_buckets} buckets")
        return errors


class NearDup(Workload):
    """operators.dedup: banded MinHash-LSH candidate pairs, then the
    connected-components closure and the drop, over a corpus with planted
    near-duplicate clusters."""

    name = "neardup"

    def __init__(self, *a, n_rows: int) -> None:
        super().__init__(*a)
        self.n_rows = n_rows

    def generate(self, seed: int) -> None:
        self.labels = inputs.write_corpus(self.data, self.n_rows, seed)

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.data)

    def iterate(self) -> Iteration:
        it = Iteration()
        t0 = time.monotonic()
        with self.spans.span("dedup.minhash_lsh_candidates"):
            pairs = minhash_lsh_candidates(
                self.df, "doc_id", "text", persisted_frames=it.persisted
            ).persist()
            it.persisted.append(pairs)
            it.layers["dedup.pairs"] = pairs.count()
        t1 = time.monotonic()
        with self.spans.span("dedup.drop_near_duplicates"):
            kept = drop_near_duplicates(self.df, pairs, "doc_id", persisted_frames=it.persisted)
        t2 = time.monotonic()
        it.verdict_s = t2 - t0
        with self.spans.span("consume"):
            ids = kept.select("doc_id").toArrow().column(0).to_numpy()
        it.layers["dedup.pairs_s"] = t1 - t0
        it.layers["dedup.closure_s"] = t2 - t1
        it.layers["dedup.drop_s"] = time.monotonic() - t2
        it.kept_ids = ids
        it.digest = {"kept": (int(ids.size), hashlib.sha256(np.sort(ids).tobytes()).hexdigest())}
        return it

    def check(self, it: Iteration) -> list[str]:
        errors = []
        dropped = np.ones(self.n_rows, dtype=bool)
        dropped[it.kept_ids] = False
        wrong = int((self.labels[dropped] < 0).sum())
        if wrong:
            errors.append(f"{wrong} dropped documents belong to no planted cluster")
        in_cluster = self.labels >= 0
        droppable = int(in_cluster.sum()) - int(np.unique(self.labels[in_cluster]).size)
        if int(dropped.sum()) < 0.95 * droppable:
            errors.append(f"dropped {int(dropped.sum())} of {droppable} planted near-duplicates")
        return errors


Suite40.probe = Buckets

WORKLOADS = {w.name: w for w in (Suite40, Keys, NearDup)}
