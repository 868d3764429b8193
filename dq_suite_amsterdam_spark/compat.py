"""Drop-in compatibility layer: the reference's public function names.

A user of Amsterdam/dq-suite-amsterdam can switch imports to
``dq_suite_amsterdam_spark.compat`` and keep their call sites; every wrapper
maps onto this engine's native APIs (no Great Expectations anywhere).
Reference citations point at the function each wrapper mirrors.

Catalog-backed helpers use the session catalog API (``spark.catalog``),
which works on Hive/Iceberg/Unity alike, with an ``information_schema``
SQL fallback; table writes via ``saveAsTable`` are attempted only when a
catalog is actually present.
"""

from __future__ import annotations

from typing import Any, Literal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .common import DataQualityRulesDict, ValidationSettings
from .engine import ValidationRunResult
from .rules_io import (
    load_rules_from_file,
    load_rules_from_string,
    rules_document_to_dict,
    validate_rules_document,
)
from .writers import enforce_column_order, enforce_schema, is_empty_dataframe

__all__ = [
    "validate",
    "run_validation",
    "read_data_quality_rules_from_json",
    "data_quality_rules_json_string_to_dict",
    "validate_data_quality_rules_dict",
    "get_data_quality_rules_dict",
    "filter_validation_dict_by_table_name",
    "get_team_from_rules_dict",
    "get_table_name_list_from_unity_catalog",
    "create_dataframe_containing_all_column_names_in_tables",
    "get_column_name_list",
    "get_all_table_name_to_column_names_mappings",
    "export_schema_to_json_string",
    "get_full_table_name",
    "write_to_unity_catalog",
    "merge_df_with_unity_table",
    "is_empty_dataframe",
    "enforce_column_order",
    "enforce_schema",
]


# -- validation entry points (reference: validation.py:317-449) ---------------


def validate(
    df: DataFrame,
    rules_dict: Any,
    validation_settings_obj: ValidationSettings,
) -> ValidationRunResult:
    """Reference ``validate`` (validation.py:317-345): run one table's rules
    against ``df``. ``rules_dict`` is a reference-shaped table dict
    ({"table_name", "unique_identifier", "rules": [...]}) or this package's
    RulesDict."""
    from . import run_validation as _run

    spark = df.sparkSession
    doc = _coerce_doc(rules_dict)
    table_name = doc.tables[0].table_name
    return _run(
        spark, df, doc, table_name, settings=validation_settings_obj
    )


def run_validation(
    json_path: str,
    df: DataFrame,
    spark_session: SparkSession,
    catalog_name: str,
    table_name: str,
    validation_name: str = "my_validation_name",
    batch_name: str | None = None,
    data_context_root_dir: str | None = None,
    slack_webhook: str | None = None,
    ms_teams_webhook: str | None = None,
    notify_on: Literal["all", "success", "failure"] = "failure",
    write_results_to_unity_catalog: bool = True,
    debug_mode: bool = False,
) -> bool | tuple[bool, ValidationRunResult]:
    """Reference main entry (validation.py:348-449): load rules JSON, run the
    named table's suite on ``df``, write the output star schema, notify.

    ``catalog_name`` doubles as the output location: a path/URI writes
    parquet via this engine's writers; a bare catalog name attempts
    ``saveAsTable`` into ``<catalog>.data_quality.*`` (gated — skipped with
    a warning when no such catalog exists). ``data_context_root_dir`` (a GX
    concept) is accepted and ignored.

    ``debug_mode=True`` skips ALL result writes (the reference returns
    before its Unity Catalog write in debug mode, validation.py) — a debug
    validation must not land output tables."""
    from . import run_validation as _run

    doc = load_rules_from_file(json_path)
    as_path = "/" in catalog_name or "://" in catalog_name
    settings = ValidationSettings(
        table_name=table_name,
        validation_name=validation_name,
        write_results=write_results_to_unity_catalog and as_path and not debug_mode,
        output_path=catalog_name if as_path else None,
        slack_webhook=slack_webhook,
        ms_teams_webhook=ms_teams_webhook,
        notify_on=notify_on,
    )
    result = _run(spark_session, df, doc, table_name, settings=settings)
    if write_results_to_unity_catalog and not as_path and not debug_mode:
        _write_star_schema_to_catalog(spark_session, doc, result, catalog_name)
    if settings.slack_webhook or settings.ms_teams_webhook:
        from .notifications import notify

        notify(result, settings)
    if debug_mode:
        return result.success, result
    # the caller never sees the frames: release what the run cached, or a
    # later run over a rewritten input can read this run's stale cache
    result.cleanup()
    return result.success


def _write_star_schema_to_catalog(
    spark: SparkSession, doc: DataQualityRulesDict, result, catalog_name: str
) -> None:
    from .metadata import build_metadata_frames

    try:
        for name, frame in build_metadata_frames(spark, doc).items():
            merge_df_with_unity_table(frame, catalog_name, name, spark)
        for frame, name in ((result.validatie, "validatie"), (result.afwijking, "afwijking")):
            frame.write.mode("append").saveAsTable(
                get_full_table_name(catalog_name, name, validate_suffix=False)
            )
    except Exception as exc:  # catalog absent in this runtime
        import warnings

        warnings.warn(
            f"catalog write to {catalog_name!r} unavailable ({exc}); "
            "pass a path/URI as catalog_name to write parquet instead"
        )


def _coerce_doc(rules_dict: Any) -> DataQualityRulesDict:
    from .common import DatasetDict, RulesDict, TeamDict

    if isinstance(rules_dict, DataQualityRulesDict):
        return rules_dict
    if isinstance(rules_dict, RulesDict):
        return DataQualityRulesDict(
            dataset=DatasetDict(name="ds", layer="brons"),
            tables=[rules_dict],
            team=TeamDict(teamid="team"),
        )
    # reference-shaped plain dict
    return validate_rules_document(
        {
            "dataset": {"name": "ds", "layer": "brons"},
            "tables": [rules_dict],
            "team": {"teamid": "team"},
        }
    )


# -- rules-file IO (reference: validation_input.py) ---------------------------


def read_data_quality_rules_from_json(file_path: str) -> str:
    """(validation_input.py:11-22) — the raw JSON text."""
    with open(file_path) as fh:
        return fh.read()


def data_quality_rules_json_string_to_dict(json_string: str) -> dict:
    """(other.py:203-213) — parse + validate, returned as a plain dict."""
    return rules_document_to_dict(load_rules_from_string(json_string))


def validate_data_quality_rules_dict(data_quality_rules_dict: dict) -> None:
    """(validation_input.py:25-47) — raises on schema violations."""
    validate_rules_document(data_quality_rules_dict)


def get_data_quality_rules_dict(file_path: str) -> dict:
    """(validation_input.py:160-169)."""
    return rules_document_to_dict(load_rules_from_file(file_path))


def filter_validation_dict_by_table_name(
    validation_dict: dict, table_name: str
) -> dict | None:
    """(validation_input.py:172-179)."""
    for table in validation_dict.get("tables", []):
        if table.get("table_name") == table_name:
            return table
    return None


def get_team_from_rules_dict(data_quality_rules_dict: dict) -> dict | None:
    """(validation_input.py:182-197)."""
    return data_quality_rules_dict.get("team")


# -- catalog introspection (reference: other.py:17-88) ------------------------


def get_table_name_list_from_unity_catalog(
    dataset: str, spark: SparkSession
) -> list[str]:
    """(other.py:17-35) — all table names in a schema. Uses the session
    catalog API (portable); falls back to information_schema SQL."""
    try:
        return [t.name for t in spark.catalog.listTables(dataset)]
    except Exception:
        rows = spark.sql(
            "SELECT table_name FROM system.information_schema.tables "
            f"WHERE table_schema = '{dataset}'"
        ).collect()
        return [r["table_name"] for r in rows]


def create_dataframe_containing_all_column_names_in_tables(
    table_name_list: list[str], spark: SparkSession
) -> DataFrame:
    """(other.py:37-52) — (column_name, table_name) rows for all tables."""
    rows = []
    for table_name in table_name_list:
        for c in spark.catalog.listColumns(table_name):
            rows.append((c.name, table_name))
    return spark.createDataFrame(rows, "column_name string, table_name string")


def get_column_name_list(
    df_columns_tables: DataFrame, table_name: str
) -> list[str]:
    """(other.py:55-66) — no rdd.flatMap: plain select+collect."""
    rows = (
        df_columns_tables.filter(F.col("table_name") == F.lit(table_name))
        .select("column_name")
        .collect()
    )
    return [r["column_name"] for r in rows]


def get_all_table_name_to_column_names_mappings(
    table_name_list: list[str], df_columns_tables: DataFrame
) -> list[dict]:
    """(other.py:69-88) — ONE collect, grouped driver-side (the reference
    filter+collects once per table)."""
    by_table: dict[str, list[str]] = {}
    for r in df_columns_tables.select("table_name", "column_name").collect():
        by_table.setdefault(r["table_name"], []).append(r["column_name"])
    return [
        {"table_name": t, "attributes": by_table.get(t, [])}
        for t in table_name_list
    ]


def export_schema_to_json_string(dataset: str, spark: SparkSession) -> str:
    """(other.py:91-126) — the rule-authoring JSON skeleton for a schema."""
    from .schema_rules import export_schema_to_json

    tables = get_table_name_list_from_unity_catalog(dataset, spark)
    return export_schema_to_json(
        spark, dataset, [f"{dataset}.{t}" for t in tables]
    )


# -- catalog writes (reference: common.py:216-336) ----------------------------


def get_full_table_name(
    catalog_name: str,
    table_name: str,
    schema_name: str = "data_quality",
    validate_suffix: bool = True,
) -> str:
    """(common.py:216-225). The _dev/_prd suffix check is kept but can be
    disabled (``validate_suffix=False``) outside the Amsterdam convention."""
    if validate_suffix and not (
        catalog_name.endswith("_dev") or catalog_name.endswith("_prd")
    ):
        raise ValueError(
            f"Incorrect catalog name '{catalog_name}', should "
            "end with '_dev' or '_prd'."
        )
    return f"{catalog_name}.{schema_name}.{table_name}"


def write_to_unity_catalog(
    df: DataFrame,
    catalog_name: str,
    table_name: str,
    schema: StructType,
    mode: Literal["append", "overwrite"] = "append",
) -> None:
    """(common.py:248-261) — enforce the schema in ONE projection, then
    saveAsTable."""
    out = enforce_schema(df, schema)
    out.write.mode(mode).option("overwriteSchema", "true").saveAsTable(
        get_full_table_name(catalog_name, table_name)
    )


def merge_df_with_unity_table(
    df: DataFrame,
    catalog_name: str,
    table_name: str,
    spark_session: SparkSession,
) -> None:
    """(common.py:264-336) — keyed upsert of a metadata dimension into a
    catalog table: real ``MERGE INTO`` where the catalog supports it
    (Delta/Iceberg), read-union-overwrite ``saveAsTable`` otherwise."""
    from .metadata import MERGE_KEYS

    if table_name not in MERGE_KEYS:
        raise ValueError(f"Unknown metadata table name '{table_name}'")
    key = MERGE_KEYS[table_name]
    full = get_full_table_name(catalog_name, table_name, validate_suffix=False)
    view = f"__compat_merge_src_{table_name}"
    df.createOrReplaceTempView(view)
    if not spark_session.catalog.tableExists(full):
        df.write.saveAsTable(full)
        return
    try:
        spark_session.sql(
            f"MERGE INTO {full} t USING {view} s ON t.{key} = s.{key} "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    except Exception:
        existing = spark_session.table(full)
        keep = existing.join(
            F.broadcast(df.select(key).distinct()), on=key, how="left_anti"
        )
        # dimensions are #rules-sized: materialize driver-side so the
        # overwrite doesn't read the table it is replacing
        rows = keep.unionByName(df).collect()
        out = (
            spark_session.createDataFrame(rows, existing.schema)
            if rows
            else df.limit(0)
        )
        out.write.mode("overwrite").option("overwriteSchema", "true").saveAsTable(full)
