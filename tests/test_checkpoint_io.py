"""IO discipline of the checkpoint resume loop (read-amplification fix).

The round-2 hazard: a per-bucket ``pmod(xxhash64(cols), n) == b`` filter is
opaque to storage-format filter APIs, so an n-bucket resume loop costs n full
input scans. These tests prove the value-predicate buckets cost ~1 scan total
on a partitioned input and produce pushdown-able predicates everywhere, and
that the hash-filter fallback above ``MAX_BUCKET_KEYS`` gives the same
records.
"""

import pytest
from pyspark.sql import functions as F

from dq_suite_amsterdam_spark import ValidationSettings, checkpoint
from dq_suite_amsterdam_spark.checkpoint import (
    _bucket_expr,
    run_partitioned_validation,
    value_bucket_predicates,
)
from dq_suite_amsterdam_spark.common import (
    DataQualityRulesDict,
    DatasetDict,
    Rule,
    RulesDict,
    TeamDict,
)
from dq_suite_amsterdam_spark.plans import (
    file_scan_stats,
    partition_filters,
    pushed_filters,
)

N_BUCKETS = 4
PCOLS = ["repo", "lang"]


def _make_doc():
    return DataQualityRulesDict(
        dataset=DatasetDict(name="ds", layer="brons"),
        tables=[
            RulesDict(
                unique_identifier="path",
                table_name="t",
                rules=[Rule("ExpectColumnValuesToNotBeNull", {"column": "path"})],
            )
        ],
        team=TeamDict(teamid="t"),
    )


def _rows():
    return [
        (f"r{i % 6}", ["py", "go"][i % 2], i, f"f{i}.py") for i in range(400)
    ]


@pytest.fixture(scope="module")
def partitioned_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckptio") / "hive_input")
    df = spark.createDataFrame(_rows(), "repo string, lang string, n int, path string")
    df.write.mode("overwrite").partitionBy(*PCOLS).parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def flat_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckptio") / "flat_input")
    df = spark.createDataFrame(_rows(), "repo string, lang string, n int, path string")
    df.repartition(4).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_values_strategy_reads_input_once(spark, partitioned_input):
    """Across all buckets the values-strategy scans are DISJOINT and sum to
    exactly one full input scan — the n-bucket loop costs 1x IO, not n x."""
    full = file_scan_stats(partitioned_input)
    preds = value_bucket_predicates(partitioned_input, PCOLS, N_BUCKETS)
    assert preds is not None
    tot_parts = tot_files = tot_bytes = 0
    for pred in preds:
        if pred is None:
            continue
        stats = file_scan_stats(partitioned_input.filter(pred))
        assert partition_filters(partitioned_input.filter(pred))  # pruned scan
        tot_parts += stats[0]
        tot_files += stats[1]
        tot_bytes += stats[2]
    assert (tot_parts, tot_files, tot_bytes) == full  # == ONE input scan


def test_values_buckets_partition_the_rows(spark, partitioned_input):
    preds = value_bucket_predicates(partitioned_input, PCOLS, N_BUCKETS)
    hash_col = _bucket_expr(PCOLS, N_BUCKETS)
    total = partitioned_input.count()
    seen = 0
    for b, pred in enumerate(preds):
        if pred is None:
            assert partitioned_input.filter(hash_col == b).count() == 0
            continue
        part = partitioned_input.filter(pred)
        # value predicate selects EXACTLY the hash bucket's rows
        assert part.count() == partitioned_input.filter(hash_col == b).count()
        seen += part.count()
    assert seen == total


def test_values_predicates_reach_storage_filter_api(spark, flat_input):
    """On a non-hive-layout input the values predicates still push In/EqualTo
    on the partition columns into the scan (PushedFilters -> parquet min/max
    row-group skipping; same predicates are what Iceberg/Delta metadata
    pruning can consume). The hash expression pushes NOTHING."""
    preds = value_bucket_predicates(flat_input, PCOLS, N_BUCKETS)
    pred = next(p for p in preds if p is not None)
    pushed = pushed_filters(flat_input.filter(pred))
    assert any("repo" in f and ("In" in f or "EqualTo" in f) for f in pushed)
    hash_pred = _bucket_expr(PCOLS, N_BUCKETS) == 0
    assert pushed_filters(flat_input.filter(hash_pred)) == []


def test_empty_bucket_runs_no_scan(spark, partitioned_input):
    preds = value_bucket_predicates(partitioned_input, PCOLS, N_BUCKETS * 8)
    empties = [b for b, p in enumerate(preds) if p is None]
    assert empties  # 12 distinct tuples over 32 buckets -> some empty
    # constant-false filter collapses to an empty local relation: no file scan
    assert file_scan_stats(partitioned_input.filter(F.lit(False))) is None


def test_values_strategy_matches_hash_strategy_records(
    spark, partitioned_input, tmp_path, monkeypatch
):
    doc = _make_doc()
    records = {}
    for strategy in ("values", "hash"):
        if strategy == "hash":
            # < 12 distinct (repo, lang) tuples: the hash-filter fallback
            monkeypatch.setattr(checkpoint, "MAX_BUCKET_KEYS", 3)
        records[strategy] = run_partitioned_validation(
            spark,
            partitioned_input,
            doc,
            "t",
            ValidationSettings(table_name="t"),
            tmp_path / f"{strategy}.jsonl",
            partition_columns=PCOLS,
            n_buckets=N_BUCKETS,
        )
    strip = lambda rs: [  # noqa: E731
        {k: r[k] for k in ("bucket", "inputRows", "violationRows")} for r in rs
    ]
    assert strip(records["values"]) == strip(records["hash"])


def test_values_falls_back_when_too_many_keys(
    spark, partitioned_input, tmp_path, monkeypatch
):
    """Beyond MAX_BUCKET_KEYS the IN-lists would bloat the plan: falls
    back to the hash filter (still correct, documented amplification)."""
    doc = _make_doc()
    monkeypatch.setattr(checkpoint, "MAX_BUCKET_KEYS", 3)  # < 12 distinct tuples
    assert value_bucket_predicates(partitioned_input, PCOLS, N_BUCKETS) is None
    records = run_partitioned_validation(
        spark,
        partitioned_input,
        doc,
        "t",
        ValidationSettings(table_name="t"),
        tmp_path / "fb.jsonl",
        partition_columns=PCOLS,
        n_buckets=N_BUCKETS,
    )
    assert sum(r["inputRows"] for r in records) == partitioned_input.count()


@pytest.mark.parametrize("n_buckets", [0, -1])
def test_n_buckets_below_one_rejected(spark, partitioned_input, tmp_path, n_buckets):
    """n_buckets < 1 would process zero buckets and report success."""
    with pytest.raises(ValueError, match="n_buckets"):
        run_partitioned_validation(
            spark,
            partitioned_input,
            _make_doc(),
            "t",
            ValidationSettings(table_name="t"),
            tmp_path / "nb.jsonl",
            partition_columns=PCOLS,
            n_buckets=n_buckets,
        )
    assert not (tmp_path / "nb.jsonl").exists()


def test_afwijking_written_partitioned(spark, partitioned_input, tmp_path):
    """SURVEY §2.2: afwijking facts partitioned by settings.partition_columns
    — violation rows carry the source partition columns (row mode) and the
    writer lays them out hive-style, so a (repo, lang) slice of the
    violations is a pruned read."""
    from dq_suite_amsterdam_spark import run_validation
    from dq_suite_amsterdam_spark.writers import write_run_outputs

    doc = DataQualityRulesDict(
        dataset=DatasetDict(name="ds", layer="brons"),
        tables=[
            RulesDict(
                unique_identifier="path",
                table_name="t",
                rules=[
                    Rule(
                        "ExpectColumnValuesToBeBetween",
                        {"column": "n", "min_value": 0, "max_value": 100},
                    )
                ],
            )
        ],
        team=TeamDict(teamid="t"),
    )
    settings = ValidationSettings(
        table_name="t",
        write_results=True,
        output_path=str(tmp_path / "out"),
        partition_columns=PCOLS,
    )
    res = run_validation(spark, partitioned_input, doc, "t", settings=settings)
    assert set(PCOLS) <= set(res.afwijking.columns)
    write_run_outputs(spark, doc, res, settings)
    afw_path = str(tmp_path / "out" / "afwijking")
    afw = spark.read.parquet(afw_path)
    sliced = afw.filter((F.col("repo") == "r2") & (F.col("lang") == "py"))
    assert file_scan_stats(sliced)[0] < file_scan_stats(afw)[0]  # pruned
    assert sliced.count() > 0
    assert partition_filters(sliced)


def test_bucket_predicates_disjoint_under_separator_aliasing(spark):
    """ADVICE r03 (low): partition values containing the \\x01 separator or
    the \\0 sentinel can alias another tuple's concat key; the bucket-hash
    conjunct must keep bucket membership exact (each row in exactly ONE
    bucket)."""
    rows = [
        ("x\x01y", "z", 1),
        ("x", "y\x01z", 2),  # same concat key as row 1
        ("\0", "q", 3),  # literal sentinel value
        (None, "q", 4),  # NULL coalesces to the sentinel -> same key as...
        ("plain", "val", 5),
    ]
    df = spark.createDataFrame(rows, "a string, b string, v int")
    preds = value_bucket_predicates(df, ["a", "b"], 8)
    assert preds is not None
    total = 0
    for p in preds:
        if p is not None:
            total += df.filter(p).count()
    assert total == df.count()  # every row in >= 1 bucket and none twice
    # per-row exactness: each row matches exactly one bucket predicate
    for r in rows:
        matches = 0
        for p in preds:
            if p is None:
                continue
            cond = (
                (F.col("a").eqNullSafe(F.lit(r[0])))
                & (F.col("b").eqNullSafe(F.lit(r[1])))
                & (F.col("v") == r[2])
            )
            if df.filter(cond & p).count() == 1:
                matches += 1
        assert matches == 1


def test_resume_is_snapshot_aware(spark, partitioned_input, tmp_path):
    """A run resumed after the input was replaced (new input_snapshot) must
    re-validate every bucket — matching on (runId, ruleSetHash) alone would
    silently mix results from two snapshots."""
    doc = _make_doc()
    ledger = tmp_path / "ledger_snap.jsonl"
    first = run_partitioned_validation(
        spark,
        partitioned_input,
        doc,
        "t",
        ValidationSettings(table_name="t"),
        ledger,
        partition_columns=PCOLS,
        n_buckets=N_BUCKETS,
        run_id="run-s",
        input_snapshot="v1",
    )
    assert len(first) == N_BUCKETS
    # same snapshot: nothing to do
    again = run_partitioned_validation(
        spark,
        partitioned_input,
        doc,
        "t",
        ValidationSettings(table_name="t"),
        ledger,
        partition_columns=PCOLS,
        n_buckets=N_BUCKETS,
        run_id="run-s",
        input_snapshot="v1",
    )
    assert again == []
    # new snapshot, same run id: ALL buckets re-validate
    refreshed = run_partitioned_validation(
        spark,
        partitioned_input,
        doc,
        "t",
        ValidationSettings(table_name="t"),
        ledger,
        partition_columns=PCOLS,
        n_buckets=N_BUCKETS,
        run_id="run-s",
        input_snapshot="v2",
    )
    assert len(refreshed) == N_BUCKETS


def test_jsonl_ingest_quarantine(spark, tmp_path):
    """Explicit-schema JSONL parse: clean/quarantine split, raw line
    preserved for replay, type-violating-but-valid-JSON rows quarantined
    too, and the corrupt-column-only pruning restriction worked around by
    caching."""
    import json

    from pyspark.sql import functions as F

    from dq_suite_amsterdam_spark.sources import (
        read_jsonl_corpus,
        split_quarantine,
    )

    p = str(tmp_path / "crawl.jsonl")
    lines = [json.dumps({"doc_id": i, "lang": "en", "n_chars": i * 10}) for i in range(8)]
    lines.insert(3, "<<< not json >>>")
    lines.insert(6, '{"doc_id": "NaN-ish", "lang": "en", "n_chars": 5}')  # type violation
    open(p, "w").write("\n".join(lines) + "\n")
    df = read_jsonl_corpus(
        spark, p, "doc_id long, lang string, n_chars long"
    ).cache()  # cache: corrupt-col-only aggregates below would otherwise
    # hit Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction
    clean, quar = split_quarantine(df)
    assert clean.count() == 8
    assert clean.agg(F.sum("doc_id")).first()[0] == sum(range(8))
    assert "_corrupt_record" not in clean.columns
    raws = [r["_corrupt_record"] for r in quar.collect()]
    assert len(raws) == 2
    assert "<<< not json >>>" in raws
    assert any("NaN-ish" in r for r in raws)
    df.unpersist()
