"""Reference-API compatibility layer: a dq-suite user's call sites keep
working against this engine (reference: validation.py, validation_input.py,
other.py, common.py)."""

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def rules_json(tmp_path):
    doc = {
        "dataset": {"name": "ds", "layer": "brons"},
        "tables": [
            {
                "unique_identifier": "id",
                "table_name": "tbl",
                "rules": [
                    {
                        "rule_name": "ExpectColumnValuesToNotBeNull",
                        "parameters": {"column": "name"},
                    }
                ],
            }
        ],
        "team": {"teamid": "t1"},
    }
    p = tmp_path / "rules.json"
    p.write_text(json.dumps(doc))
    return str(p)


def test_rules_file_helpers(rules_json):
    from dq_suite_amsterdam_spark import compat

    raw = compat.read_data_quality_rules_from_json(rules_json)
    d = compat.data_quality_rules_json_string_to_dict(raw)
    compat.validate_data_quality_rules_dict(d)
    assert compat.get_data_quality_rules_dict(rules_json)["dataset"]["name"] == "ds"
    table = compat.filter_validation_dict_by_table_name(d, "tbl")
    assert table["unique_identifier"] == "id"
    assert compat.filter_validation_dict_by_table_name(d, "zzz") is None
    assert compat.get_team_from_rules_dict(d)["teamid"] == "t1"


def test_run_validation_reference_signature(spark, rules_json, tmp_path):
    """The reference's main entry: json path + df + output location."""
    from dq_suite_amsterdam_spark import compat

    df = spark.createDataFrame([(1, "a"), (2, None)], "id int, name string")
    ok = compat.run_validation(
        json_path=rules_json,
        df=df,
        spark_session=spark,
        catalog_name=str(tmp_path / "dq_out"),  # path -> parquet writers
        table_name="tbl",
    )
    assert ok is False  # one NULL name
    assert spark.read.parquet(str(tmp_path / "dq_out" / "afwijking")).count() == 1
    ok2, result = compat.run_validation(
        json_path=rules_json,
        df=df.filter("name IS NOT NULL"),
        spark_session=spark,
        catalog_name=str(tmp_path / "dq_out2"),
        table_name="tbl",
        debug_mode=True,
    )
    assert ok2 is True and result.success
    # debug mode must NOT write results (reference returns before the Unity
    # Catalog write in debug mode) — no output directory may appear
    import pathlib

    assert not pathlib.Path(tmp_path / "dq_out2").exists()


def test_run_validation_releases_cache_between_runs(spark, rules_json, tmp_path):
    """Two bool-returning runs over one parquet path that another writer
    replaces in between (fewer rows, a NULL name): the second run must see
    the new rows, not frames cached by the first, and the runs leave no
    cache behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dq_suite_amsterdam_spark import compat

    path = tmp_path / "input"
    path.mkdir()
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persistent().size()

    def run():
        return compat.run_validation(
            json_path=rules_json,
            df=spark.read.parquet(str(path)),
            spark_session=spark,
            catalog_name="dq",
            table_name="tbl",
            write_results_to_unity_catalog=False,
        )

    first = pa.table({"id": list(range(200)), "name": [f"n{i}" for i in range(200)]})
    pq.write_table(first, str(path / "part-0.parquet"))
    assert run() is True
    (path / "part-0.parquet").unlink()
    pq.write_table(pa.table({"id": [1, 2], "name": ["a", None]}), str(path / "part-1.parquet"))
    assert run() is False
    assert persistent().size() == before


def test_validate_with_reference_shaped_table_dict(spark):
    from dq_suite_amsterdam_spark import compat
    from dq_suite_amsterdam_spark.common import ValidationSettings

    df = spark.createDataFrame([(1, "a"), (2, None)], "id int, name string")
    res = compat.validate(
        df,
        {
            "unique_identifier": "id",
            "table_name": "tbl",
            "rules": [
                {
                    "rule_name": "ExpectColumnValuesToNotBeNull",
                    "parameters": {"column": "name"},
                }
            ],
        },
        ValidationSettings(table_name="tbl"),
    )
    assert not res.success
    assert res.afwijking.count() == 1


def _clean_warehouse_db(spark, db):
    """The test session's metastore is in-memory: table metadata dies with
    the JVM but spark-warehouse directories persist, and a fresh session
    refuses to create a managed table over a leftover location."""
    import shutil
    from pathlib import Path

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        Path(warehouse.removeprefix("file:")) / f"{db}.db", ignore_errors=True
    )


def test_catalog_introspection_helpers(spark):
    from dq_suite_amsterdam_spark import compat

    _clean_warehouse_db(spark, "compat_db")
    spark.sql("CREATE DATABASE IF NOT EXISTS compat_db")
    spark.createDataFrame([(1, "x")], "id int, v string").write.mode(
        "overwrite"
    ).saveAsTable("compat_db.t1")
    try:
        tables = compat.get_table_name_list_from_unity_catalog("compat_db", spark)
        assert "t1" in tables
        cols = compat.create_dataframe_containing_all_column_names_in_tables(
            ["compat_db.t1"], spark
        )
        assert compat.get_column_name_list(cols, "compat_db.t1") == ["id", "v"]
        mappings = compat.get_all_table_name_to_column_names_mappings(
            ["compat_db.t1"], cols
        )
        assert mappings == [{"table_name": "compat_db.t1", "attributes": ["id", "v"]}]
        schema_json = compat.export_schema_to_json_string("compat_db", spark)
        assert "t1" in schema_json and "id" in schema_json
    finally:
        spark.sql("DROP TABLE IF EXISTS compat_db.t1")
        spark.sql("DROP DATABASE IF EXISTS compat_db")


def test_catalog_write_and_merge(spark):
    from dq_suite_amsterdam_spark import compat

    with pytest.raises(ValueError):
        compat.get_full_table_name("nosuffix", "regel")
    assert (
        compat.get_full_table_name("cat_dev", "regel")
        == "cat_dev.data_quality.regel"
    )
    # local session: the built-in catalog is "spark_catalog", so the
    # reference's <catalog>.data_quality.<table> shape resolves 3-part
    _clean_warehouse_db(spark, "data_quality")
    spark.sql("CREATE DATABASE IF NOT EXISTS data_quality")
    try:
        team = spark.createDataFrame(
            [("t1", "Team One")], "teamId string, teamNaam string"
        )
        compat.merge_df_with_unity_table(team, "spark_catalog", "team", spark)
        # second merge with an update + an insert (non-Delta fallback path)
        team2 = spark.createDataFrame(
            [("t1", "Team One Renamed"), ("t2", "Team Two")],
            "teamId string, teamNaam string",
        )
        compat.merge_df_with_unity_table(team2, "spark_catalog", "team", spark)
        out = {
            r["teamId"]: r["teamNaam"]
            for r in spark.table("spark_catalog.data_quality.team").collect()
        }
        assert out == {"t1": "Team One Renamed", "t2": "Team Two"}
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_catalog.data_quality.team")
        spark.sql("DROP DATABASE IF EXISTS data_quality CASCADE")
