"""End-to-end engine tests: each rule kind on small DataFrames with known
violations, asserting validatie counts + afwijking rows (the reference's test
strategy, SURVEY.md §5)."""

import pytest
from pyspark.sql import functions as F

from dq_suite_amsterdam_spark import (
    DataQualityRulesDict,
    DatasetDict,
    Rule,
    RulesDict,
    TeamDict,
    ValidationSettings,
    run_validation,
)


def make_doc(rules, table_name="tbl", unique_identifier="id", mask_columns=None):
    return DataQualityRulesDict(
        dataset=DatasetDict(name="ds", layer="brons"),
        tables=[
            RulesDict(
                unique_identifier=unique_identifier,
                table_name=table_name,
                rules=rules,
                mask_columns=mask_columns,
            )
        ],
        team=TeamDict(teamid="team1", teamnaam="Team One"),
    )


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [
            (1, "alice", 30, "NL"),
            (2, "bob", 45, "BE"),
            (3, None, 200, "XX"),
            (4, "dave", None, "NL"),
            (5, "eve", 28, "NL"),
            (5, "eve", 28, "NL"),  # duplicate id (and full row)
        ],
        "id int, name string, age int, country string",
    )


def by_rule(result, rule_name):
    return next(r for r in result.rule_results if r.compiled.regel_naam == rule_name)


def test_not_null_rule(spark, people):
    doc = make_doc([Rule("ExpectColumnValuesToNotBeNull", {"column": "name"})])
    res = run_validation(spark, people, doc, "tbl")
    r = by_rule(res, "ExpectColumnValuesToNotBeNull")
    assert not r.success
    assert r.element_count == 6
    assert r.unexpected_count == 1
    v = res.validatie.collect()
    assert len(v) == 1
    assert v[0]["aantalValideRecords"] == 5
    assert v[0]["aantalReferentieRecords"] == 6
    assert v[0]["dqResultaat"] == "failure"
    # int(100 - 16.666..) / 100 = 0.83 (truncated, reference semantics)
    assert v[0]["percentageValideRecords"] == 0.83
    a = res.afwijking.collect()
    assert len(a) == 1
    assert a[0]["identifierVeldWaarde"] == "[[3]]"
    assert a[0]["afwijkendeAttribuutWaarde"] is None
    assert a[0]["regelId"] == v[0]["regelId"]


def test_between_rule_excludes_nulls(spark, people):
    doc = make_doc(
        [Rule("ExpectColumnValuesToBeBetween", {"column": "age", "min_value": 0, "max_value": 120})]
    )
    res = run_validation(spark, people, doc, "tbl")
    r = by_rule(res, "ExpectColumnValuesToBeBetween")
    assert r.unexpected_count == 1  # 200; the NULL age is not unexpected
    a = res.afwijking.collect()
    assert len(a) == 1
    assert a[0]["afwijkendeAttribuutWaarde"] == "200"
    assert a[0]["identifierVeldWaarde"] == "[[3]]"


def test_in_set_rule(spark, people):
    doc = make_doc(
        [Rule("ExpectColumnValuesToBeInSet", {"column": "country", "value_set": ["NL", "BE"]})]
    )
    res = run_validation(spark, people, doc, "tbl")
    assert by_rule(res, "ExpectColumnValuesToBeInSet").unexpected_count == 1
    assert res.afwijking.collect()[0]["afwijkendeAttribuutWaarde"] == "XX"


def test_regex_rule(spark, people):
    doc = make_doc(
        [Rule("ExpectColumnValuesToMatchRegex", {"column": "name", "regex": "^[a-z]+$"})]
    )
    res = run_validation(spark, people, doc, "tbl")
    assert by_rule(res, "ExpectColumnValuesToMatchRegex").success


def test_uniqueness_rule(spark, people):
    doc = make_doc([Rule("ExpectColumnValuesToBeUnique", {"column": "id"})])
    res = run_validation(spark, people, doc, "tbl")
    r = by_rule(res, "ExpectColumnValuesToBeUnique")
    assert not r.success
    assert r.unexpected_count == 2  # both rows with id=5
    a = res.afwijking.collect()
    assert len(a) == 2
    assert all(x["identifierVeldWaarde"] == "[[5]]" for x in a)
    assert all(x["afwijkendeAttribuutWaarde"] == "5" for x in a)
    # a violation_limit caps the afwijking rows, not the count
    settings = ValidationSettings(table_name="tbl", violation_limit=1)
    res = run_validation(spark, people, doc, "tbl", settings=settings)
    assert by_rule(res, "ExpectColumnValuesToBeUnique").unexpected_count == 2
    assert [x["identifierVeldWaarde"] for x in res.afwijking.collect()] == ["[[5]]"]


def test_compound_uniqueness_rule(spark, people):
    doc = make_doc(
        [Rule("ExpectCompoundColumnsToBeUnique", {"column_list": ["id", "name"]})]
    )
    res = run_validation(spark, people, doc, "tbl")
    r = by_rule(res, "ExpectCompoundColumnsToBeUnique")
    assert r.unexpected_count == 2
    a = res.afwijking.collect()
    assert len(a) == 2
    assert a[0]["afwijkendeAttribuutWaarde"] == "(('id', 5), ('name', 'eve'))"


def test_row_count_rules(spark, people):
    doc = make_doc(
        [
            Rule("ExpectTableRowCountToBeBetween", {"min_value": 1, "max_value": 100}),
            Rule("ExpectTableRowCountToEqual", {"value": 7}),
        ]
    )
    res = run_validation(spark, people, doc, "tbl")
    ok = by_rule(res, "ExpectTableRowCountToBeBetween")
    bad = by_rule(res, "ExpectTableRowCountToEqual")
    assert ok.success and ok.observed_value == 6
    assert not bad.success
    rows = {r["regelId"]: r for r in res.validatie.collect()}
    assert rows[ok.regel_id]["aantalReferentieRecords"] == 6
    assert rows[ok.regel_id]["aantalValideRecords"] is None
    # failed table-level rule -> afwijking row with NULL identifier
    a = [x for x in res.afwijking.collect() if x["regelId"] == bad.regel_id]
    assert len(a) == 1
    assert a[0]["identifierVeldWaarde"] is None
    assert a[0]["afwijkendeAttribuutWaarde"] == "6"


def test_distinct_set_rule(spark):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([1] * 4 + [2] * 4 + [3] * 4 + [4])],
        "id int, value int",
    )  # the reference's 13-row fixture (test_validation.py:54-68)
    good = Rule("ExpectColumnDistinctValuesToEqualSet", {"column": "value", "value_set": [1, 2, 3, 4]})
    bad = Rule("ExpectColumnDistinctValuesToEqualSet", {"column": "value", "value_set": [1, 2, 3]})
    # no predicate rules, and a non-observable aggregate (exact distinct
    # count) ahead of an observable one (mean): results keep suite order
    uniq = Rule("ExpectColumnUniqueValueCountToBeBetween", {"column": "value", "min_value": 4, "max_value": 4})
    mean = Rule("ExpectColumnMeanToBeBetween", {"column": "value", "min_value": 3})
    res = run_validation(spark, df, make_doc([uniq, good, mean, bad]), "tbl")
    assert [r.compiled.regel_naam for r in res.rule_results] == [
        "ExpectColumnUniqueValueCountToBeBetween",
        "ExpectColumnDistinctValuesToEqualSet",
        "ExpectColumnMeanToBeBetween",
        "ExpectColumnDistinctValuesToEqualSet",
    ]
    oks = [r.success for r in res.rule_results]
    assert oks == [True, True, False, False]
    assert res.rule_results[0].observed_value == 4
    assert res.rule_results[1].observed_value == [1, 2, 3, 4]
    assert res.rule_results[2].observed_value == pytest.approx(28 / 13)
    assert all(r.element_count == 13 for r in res.rule_results)
    assert res.metrics["input_rows"] == 13


def test_pair_rules(spark):
    df = spark.createDataFrame(
        [(1, 10, 10, 5), (2, 20, 21, 30), (3, None, None, 1)],
        "id int, a int, b int, c int",
    )
    doc = make_doc(
        [
            Rule("ExpectColumnPairValuesToBeEqual", {"column_A": "a", "column_B": "b"}),
            Rule("ExpectColumnPairValuesAToBeGreaterThanB", {"column_A": "a", "column_B": "c"}),
        ]
    )
    res = run_validation(spark, df, doc, "tbl")
    eq = by_rule(res, "ExpectColumnPairValuesToBeEqual")
    gt = by_rule(res, "ExpectColumnPairValuesAToBeGreaterThanB")
    assert eq.unexpected_count == 1  # row 2 (both-null row counts equal)
    assert gt.unexpected_count == 1  # row 2: 20 > 30 false; null row ignored
    a = [x for x in res.afwijking.collect() if x["regelId"] == eq.regel_id]
    assert a[0]["afwijkendeAttribuutWaarde"] == "(20, 21)"


def test_type_and_columns_rules(spark, people):
    doc = make_doc(
        [
            Rule("ExpectColumnValuesToBeOfType", {"column": "age", "type_": "IntegerType"}),
            Rule("ExpectColumnValuesToBeOfType", {"column": "name", "type_": "DoubleType"}),
            Rule(
                "ExpectTableColumnsToMatchSet",
                {"column_set": ["id", "name", "age", "country"]},
            ),
        ]
    )
    res = run_validation(spark, people, doc, "tbl")
    assert [r.success for r in res.rule_results] == [True, False, True]


def test_row_condition(spark, people):
    doc = make_doc(
        [
            Rule(
                "ExpectColumnValuesToNotBeNull",
                {"column": "age", "row_condition": 'col("country") == "NL"'},
            )
        ]
    )
    res = run_validation(spark, people, doc, "tbl")
    r = res.rule_results[0]
    assert r.element_count == 4  # NL rows only
    assert r.unexpected_count == 1  # dave


def test_referential_rule(spark, people):
    lookup = spark.createDataFrame([("NL",), ("BE",), ("DE",)], "code string")
    doc = make_doc(
        [
            Rule(
                "ExpectColumnValuesToBeInReferenceTable",
                {"column": "country", "reference_table": "lookup", "reference_column": "code"},
            )
        ]
    )
    res = run_validation(spark, people, doc, "tbl", ref_tables={"lookup": lookup})
    r = res.rule_results[0]
    assert not r.success
    assert r.unexpected_count == 1
    a = res.afwijking.collect()
    assert a[0]["afwijkendeAttribuutWaarde"] == "XX"
    # grouped mode: one row per deviating value
    settings = ValidationSettings(table_name="tbl", violation_mode="grouped")
    res = run_validation(
        spark, people, doc, "tbl", settings=settings, ref_tables={"lookup": lookup}
    )
    a = res.afwijking.collect()
    assert len(a) == 1
    assert a[0]["identifierVeldWaarde"] == "[[3]]"
    assert a[0]["afwijkendeAttribuutWaarde"] == "XX"


def test_failed_run_releases_persisted_frames(spark, people):
    """A pass that raises (here: the referential rule's reference table is
    missing, found only after the fused scan has persisted its violation
    frame) must not leave frames persisted for a later run to reuse."""
    doc = make_doc(
        [
            Rule("ExpectColumnValuesToNotBeNull", {"column": "name"}),
            Rule(
                "ExpectColumnValuesToBeInReferenceTable",
                {"column": "country", "reference_table": "missing", "reference_column": "code"},
            ),
        ]
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="ref_tables"):
        run_validation(spark, people, doc, "tbl")
    assert jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize("limit", [0, -1])
def test_violation_limit_below_one_rejected(limit):
    """0 would read as 'no limit' (falsy) and a negative limit would drop
    every afwijking row of a failing rule."""
    with pytest.raises(ValueError, match="violation_limit"):
        ValidationSettings(table_name="tbl", violation_limit=limit)


def test_masking(spark, people):
    doc = make_doc(
        [Rule("ExpectColumnValuesToBeInSet", {"column": "country", "value_set": ["NL", "BE"]})],
        mask_columns=["country"],
    )
    res = run_validation(spark, people, doc, "tbl")
    assert res.afwijking.collect()[0]["afwijkendeAttribuutWaarde"] == "***masked***"


def test_grouped_violation_mode(spark, people):
    doc = make_doc([Rule("ExpectColumnValuesToBeUnique", {"column": "id"})])
    settings = ValidationSettings(table_name="tbl", violation_mode="grouped")
    res = run_validation(spark, people, doc, "tbl", settings=settings)
    a = res.afwijking.collect()
    assert len(a) == 1  # one row per unique deviating value
    assert a[0]["identifierVeldWaarde"] == "[[5], [5]]"


def test_grouped_mode_caps_ids_with_overflow_marker(spark):
    """Grouped mode must bound the per-(rule, value) agg buffer: ids are
    capped BEFORE collect_list (two-stage salted window), the kept ids are
    the lexicographically smallest, and an explicit '...(+N more)' marker
    replaces the silently-dropped tail (vs the reference's hard 200 cliff,
    README.md:144)."""
    rows = [(i, None if i < 50 else "x") for i in range(60)]
    df = spark.createDataFrame(rows, "id int, name string")
    doc = make_doc([Rule("ExpectColumnValuesToNotBeNull", {"column": "name"})])
    settings = ValidationSettings(
        table_name="tbl", violation_mode="grouped", violation_limit=5
    )
    res = run_validation(spark, df, doc, "tbl", settings=settings)
    a = res.afwijking.collect()
    assert len(a) == 1
    field = a[0]["identifierVeldWaarde"]
    # ids are strings: smallest 5 of '[0]'..'[49]' lexicographically
    # (']' > '9', so '[1]' sorts after '[19]')
    assert field == "[[0], [10], [11], [12], [13], ...(+45 more)]"
    assert a[0]["afwijkendeAttribuutWaarde"] is None  # null value groups null-safely


def test_grouped_mode_bounded_on_hot_value_1m_rows(spark):
    """10^6 violating rows sharing ONE deviating value: grouped mode must
    complete with a bounded buffer (pre-collect cap), output size O(limit)."""
    df = (
        spark.range(1_000_000)
        .select(F.col("id").cast("int").alias("id"))
        .withColumn("name", F.lit(None).cast("string"))
    )
    doc = make_doc([Rule("ExpectColumnValuesToNotBeNull", {"column": "name"})])
    settings = ValidationSettings(
        table_name="tbl", violation_mode="grouped", violation_limit=10
    )
    res = run_validation(spark, df, doc, "tbl", settings=settings)
    a = res.afwijking.collect()
    assert len(a) == 1
    field = a[0]["identifierVeldWaarde"]
    assert len(field) < 200  # O(limit), not O(n)
    assert "...(+999990 more)" in field


def test_severity_rollup(spark, people):
    doc = make_doc(
        [
            Rule("ExpectColumnValuesToNotBeNull", {"column": "name"}, severity="warning"),
            Rule("ExpectTableRowCountToEqual", {"value": 999}, severity="fatal"),
        ]
    )
    res = run_validation(spark, people, doc, "tbl")
    assert not res.success
    assert res.highest_severity_level == "fatal"


def test_sha256_invariant_rule(spark):
    import hashlib

    rows = [
        (1, "hello", hashlib.sha256(b"hello").hexdigest()),
        (2, "world", hashlib.sha256(b"world").hexdigest()),
        (3, "oops", hashlib.sha256(b"other").hexdigest()),
    ]
    df = spark.createDataFrame(rows, "id int, content string, content_sha string")
    doc = make_doc(
        [
            Rule(
                "ExpectColumnValuesSha256ToEqualReference",
                {"column": "content", "hash_column": "content_sha"},
            )
        ]
    )
    res = run_validation(spark, df, doc, "tbl")
    r = res.rule_results[0]
    assert r.unexpected_count == 1
    assert res.afwijking.collect()[0]["identifierVeldWaarde"] == "[[3]]"


def test_metadata_star_schema(spark, people):
    from dq_suite_amsterdam_spark import build_metadata_frames

    doc = make_doc(
        [
            Rule("ExpectColumnValuesToNotBeNull", {"column": "name"}),
            Rule("ExpectTableRowCountToBeBetween", {"min_value": 0, "max_value": 10}),
        ]
    )
    frames = build_metadata_frames(spark, doc)
    assert frames["brondataset"].collect()[0]["bronDatasetId"] == "ds_brons"
    assert frames["brontabel"].collect()[0]["bronTabelId"] == "ds_brons_tbl"
    attrs = frames["bronattribuut"].collect()
    assert len(attrs) == 1 and attrs[0]["bronAttribuutId"] == "ds_brons_tbl_name"
    regel = frames["regel"].collect()
    assert len(regel) == 2
    assert all(r["regelId"] and r["regelId"].lstrip("-").isdigit() for r in regel)
    # regelId in metadata matches regelId in validatie output
    res = run_validation(spark, people, doc, "tbl")
    validatie_ids = {r["regelId"] for r in res.validatie.collect()}
    assert validatie_ids == {r["regelId"] for r in regel}


def test_geo_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "POINT (1 1)"),
            (2, "LINESTRING (0 0, 1 1)"),
            (3, "not-a-geometry"),
            (4, "POINT EMPTY"),
            (5, None),
        ],
        "id int, geometry string",
    )
    doc = make_doc(
        [
            Rule("ExpectColumnValuesToHaveValidGeometry", {"column": "geometry"}),
            Rule("ExpectGeometryColumnValuesToNotBeEmpty", {"column": "geometry"}),
            Rule(
                "ExpectColumnValuesToBeOfGeometryType",
                {"column": "geometry", "geometry_type": "ST_Point"},
            ),
        ]
    )
    res = run_validation(spark, df, doc, "tbl")
    valid = by_rule(res, "ExpectColumnValuesToHaveValidGeometry")
    nonempty = by_rule(res, "ExpectGeometryColumnValuesToNotBeEmpty")
    of_type = by_rule(res, "ExpectColumnValuesToBeOfGeometryType")
    assert valid.unexpected_count == 1  # "not-a-geometry"
    assert nonempty.unexpected_count == 2  # POINT EMPTY + NULL
    assert of_type.unexpected_count == 2  # LINESTRING + not-a-geometry


def test_strftime_rule(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-31 10:00:00"), (2, "31/01/2024"), (3, None)],
        "id int, ts string",
    )
    doc = make_doc(
        [Rule("ExpectColumnValuesToMatchStrftimeFormat", {"column": "ts", "strftime_format": "%Y-%m-%d %H:%M:%S"})]
    )
    res = run_validation(spark, df, doc, "tbl")
    assert res.rule_results[0].unexpected_count == 1  # only the dd/mm/yyyy row


def test_multicolumn_sum_rule(spark):
    df = spark.createDataFrame([(1, 2, 8), (2, 5, 5), (3, None, 4)], "id int, a int, b int")
    doc = make_doc([Rule("ExpectMulticolumnSumToEqual", {"column_list": ["a", "b"], "sum_total": 10})])
    res = run_validation(spark, df, doc, "tbl")
    assert res.rule_results[0].unexpected_count == 0  # 2+8=10, 5+5=10, null ignored
    doc2 = make_doc([Rule("ExpectMulticolumnSumToEqual", {"column_list": ["a", "b"], "sum_total": 9})])
    res2 = run_validation(spark, df, doc2, "tbl")
    assert res2.rule_results[0].unexpected_count == 2


def test_json_parseable_rule(spark):
    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, "not json"), (3, "[1,2,3]"), (4, None)],
        "id int, j string",
    )
    doc = make_doc([Rule("ExpectColumnValuesToBeJsonParseable", {"column": "j"})])
    res = run_validation(spark, df, doc, "tbl")
    assert res.rule_results[0].unexpected_count == 1
    assert res.afwijking.collect()[0]["afwijkendeAttribuutWaarde"] == "not json"


def test_pandas_udf_regex_engine(spark, people):
    """Opt-in Arrow pandas-UDF regex kernel matches the native path."""
    native = make_doc(
        [Rule("ExpectColumnValuesToMatchRegex", {"column": "name", "regex": "^[a-d]"})]
    )
    pandas_doc = make_doc(
        [Rule("ExpectColumnValuesToMatchRegex", {"column": "name", "regex": "^[a-d]", "engine": "pandas"})]
    )
    r1 = run_validation(spark, people, native, "tbl").rule_results[0]
    r2 = run_validation(spark, people, pandas_doc, "tbl").rule_results[0]
    assert r1.unexpected_count == r2.unexpected_count == 2  # eve x2


def test_pandas_udf_regex_unanchored_parity(spark):
    """UNANCHORED pattern: rlike is substring-search; the pandas kernel must
    use re.search semantics (str.contains), not str.match (start-anchored) —
    '[0-9]{3}$' vs 'abc123' differed before the fix."""
    df = spark.createDataFrame([(1, "abc123"), (2, "xyz"), (3, None)], "id int, s string")
    native = make_doc(
        [Rule("ExpectColumnValuesToMatchRegex", {"column": "s", "regex": "[0-9]{3}$"})]
    )
    pandas_doc = make_doc(
        [Rule("ExpectColumnValuesToMatchRegex", {"column": "s", "regex": "[0-9]{3}$", "engine": "pandas"})]
    )
    r1 = run_validation(spark, df, native, "tbl").rule_results[0]
    r2 = run_validation(spark, df, pandas_doc, "tbl").rule_results[0]
    assert r1.unexpected_count == r2.unexpected_count == 1  # only 'xyz'


def test_empty_input_with_row_condition(spark):
    """F.sum returns NULL on empty input — element counts must coerce to 0,
    not crash (run_partitioned_validation hits empty buckets routinely)."""
    df = spark.createDataFrame([], "id int, lang string, name string")
    doc = make_doc(
        [Rule("ExpectColumnValuesToNotBeNull",
              {"column": "name", "row_condition": "lang = 'py'"})]
    )
    res = run_validation(spark, df, doc, "tbl")
    assert res.success
    assert res.rule_results[0].element_count == 0
    assert res.rule_results[0].unexpected_count == 0


def test_distinct_set_rules_bounded_state(spark):
    """Distinct-set rules use bounded aggregation state: a mis-specified rule
    over a high-cardinality column reports the out-of-set row count and an
    example instead of collecting the full distinct set."""
    df = spark.createDataFrame([(i, f"v{i}") for i in range(5000)], "id int, c string")
    doc = make_doc(
        [Rule("ExpectColumnDistinctValuesToEqualSet", {"column": "c", "value_set": ["v0", "v1"]})]
    )
    res = run_validation(spark, df, doc, "tbl")
    r = res.rule_results[0]
    assert not r.success
    observed = r.observed_value
    assert observed[:2] == ["v0", "v1"]  # bounded in-set values
    assert "4998 rows outside value_set" in observed[2]

    ok_doc = make_doc(
        [Rule("ExpectColumnDistinctValuesToEqualSet",
              {"column": "c", "value_set": [f"v{i}" for i in range(5000)]})]
    )
    assert run_validation(spark, df, ok_doc, "tbl").rule_results[0].success

    contain_doc = make_doc(
        [Rule("ExpectColumnDistinctValuesToContainSet", {"column": "c", "value_set": ["v1", "v99"]})]
    )
    assert run_validation(spark, df, contain_doc, "tbl").rule_results[0].success
    in_doc = make_doc(
        [Rule("ExpectColumnDistinctValuesToBeInSet", {"column": "c", "value_set": ["v1"]})]
    )
    assert not run_validation(spark, df, in_doc, "tbl").rule_results[0].success


def test_remaining_rule_types_coverage(spark, people):
    """Every registered rule type runs through the engine at least once —
    this covers the five with no dedicated test: BeNull, MostCommonValue,
    Sha256Reference, ColumnsMatchOrderedList, ColumnCountToEqual."""
    doc = make_doc([Rule("ExpectColumnValuesToBeNull", {"column": "name"})])
    r = run_validation(spark, people, doc, "tbl").rule_results[0]
    assert not r.success and r.unexpected_count == 5  # five non-null names

    doc = make_doc(
        [Rule("ExpectColumnMostCommonValueToBeInSet",
              {"column": "country", "value_set": ["NL"]})]
    )
    r = run_validation(spark, people, doc, "tbl").rule_results[0]
    assert r.success and r.observed_value == "NL"
    doc = make_doc(
        [Rule("ExpectColumnMostCommonValueToBeInSet",
              {"column": "country", "value_set": ["BE"]})]
    )
    assert not run_validation(spark, people, doc, "tbl").rule_results[0].success

    hashed = people.withColumn("h", F.sha2(F.col("name").cast("binary"), 256))
    doc = make_doc(
        [Rule("ExpectColumnValuesSha256ToEqualReference",
              {"column": "name", "hash_column": "h"})]
    )
    assert run_validation(spark, hashed, doc, "tbl").rule_results[0].success
    tampered = hashed.withColumn(
        "name", F.when(F.col("id") == 1, F.lit("mallory")).otherwise(F.col("name"))
    )
    r = run_validation(spark, tampered, doc, "tbl").rule_results[0]
    assert not r.success and r.unexpected_count == 1

    doc = make_doc(
        [Rule("ExpectTableColumnsToMatchOrderedList",
              {"column_list": ["id", "name", "age", "country"]})]
    )
    assert run_validation(spark, people, doc, "tbl").rule_results[0].success
    doc = make_doc(
        [Rule("ExpectTableColumnsToMatchOrderedList",
              {"column_list": ["name", "id", "age", "country"]})]
    )
    assert not run_validation(spark, people, doc, "tbl").rule_results[0].success

    doc = make_doc([Rule("ExpectTableColumnCountToEqual", {"value": 4})])
    assert run_validation(spark, people, doc, "tbl").rule_results[0].success
    doc = make_doc([Rule("ExpectTableColumnCountToEqual", {"value": 3})])
    r = run_validation(spark, people, doc, "tbl").rule_results[0]
    assert not r.success and r.observed_value == 4
