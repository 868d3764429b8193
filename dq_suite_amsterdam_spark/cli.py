"""spark-submit entry point.

Cluster usage (north-rule deployment shape):

    zip -r dq_suite_amsterdam_spark.zip dq_suite_amsterdam_spark
    spark-submit --py-files dq_suite_amsterdam_spark.zip \
        tools/spark_submit_cli.py \
        --rules rules.json --table mytable \
        --input s3://bucket/table --format iceberg \
        --output s3://bucket/dq --ledger s3a://bucket/dq/ledger.jsonl

Local smoke:

    python -m dq_suite_amsterdam_spark.cli --rules rules.json --table t \
        --input /path/table.parquet --output /tmp/dq_out
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def build_session(app_name: str, shuffle_partitions: int | None) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="PySpark-native DQ validation")
    p.add_argument(
        "--mode",
        default="validate",
        choices=["validate", "profile"],
        help="validate: run a rules doc; profile: distributed profiling -> "
        "report artifacts + synthesized starter rules (the reference's "
        "profile_and_create_rules entry point, profile.py:24-53)",
    )
    p.add_argument("--rules", default=None, help="rules JSON path (validate mode)")
    p.add_argument("--table", required=True, help="table_name within the rules doc")
    p.add_argument("--input", required=True, help="input table path/name")
    p.add_argument("--dataset", default="dataset", help="dataset name (profile mode)")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg", "delta", "orc", "csv", "json"])
    p.add_argument("--output", default=None, help="output root for the star schema")
    p.add_argument("--output-format", default="parquet")
    p.add_argument("--ledger", default=None, help="resume ledger path (enables partitioned checkpointed run)")
    p.add_argument("--partition-columns", default="repo,lang")
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--violation-mode", default="row", choices=["row", "grouped"])
    p.add_argument("--violation-limit", type=int, default=100_000)
    p.add_argument("--baselines", default=None, help="drift baseline store path")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--slack-webhook", default=None)
    p.add_argument("--ms-teams-webhook", default=None)
    p.add_argument("--notify-on", default="failure", choices=["all", "failure", "success"])
    args = p.parse_args(argv)

    from . import ValidationSettings, load_rules_from_file, run_validation
    from .drift import BaselineStore
    from .sources import read_table

    spark = build_session(f"dq-{args.mode}-{args.table}", args.shuffle_partitions)
    df = read_table(spark, args.input, fmt=args.format)

    if args.mode == "profile":
        from pathlib import Path

        from .profiling import generate_rules_from_profile, profile_table
        from .report import write_profile_report
        from .rules_io import save_rules_to_file

        out = Path(args.output or ".")
        out.mkdir(parents=True, exist_ok=True)
        prof = profile_table(df, args.table)
        doc = generate_rules_from_profile(prof, args.dataset, args.table)
        save_rules_to_file(doc, out / f"{args.table}_rules.json")
        write_profile_report(prof, out / f"{args.table}_profile.html")
        write_profile_report(prof, out / f"{args.table}_profile.md")
        print(
            json.dumps(
                {
                    "rows": prof.n,
                    "columns": prof.n_var,
                    "rules_synthesized": len(doc.table(args.table).rules),
                    "artifacts": [
                        str(out / f"{args.table}_rules.json"),
                        str(out / f"{args.table}_profile.html"),
                        str(out / f"{args.table}_profile.md"),
                    ],
                }
            )
        )
        return 0

    if not args.rules:
        p.error("--rules is required in validate mode")
    rules_doc = load_rules_from_file(args.rules)
    settings = ValidationSettings(
        table_name=args.table,
        violation_mode=args.violation_mode,
        violation_limit=args.violation_limit,
        write_results=bool(args.output),
        output_path=args.output,
        output_format=args.output_format,
        notify_on=args.notify_on,
        slack_webhook=args.slack_webhook,
        ms_teams_webhook=args.ms_teams_webhook,
    )
    store = BaselineStore(args.baselines) if args.baselines else None

    if args.ledger:
        from .checkpoint import run_partitioned_validation
        from .sources import table_snapshot_id

        records = run_partitioned_validation(
            spark,
            df,
            rules_doc,
            args.table,
            settings,
            args.ledger,
            partition_columns=[c for c in args.partition_columns.split(",") if c],
            n_buckets=args.n_buckets,
            run_id=args.run_id,
            # lineage: snapshot/version id of the input at run start (best-
            # effort; "" on plain files / absent catalogs)
            input_snapshot=table_snapshot_id(spark, args.input, args.format),
            baseline_store=store,
        )
        print(json.dumps({"buckets_processed": len(records)}))
        return 0

    result = run_validation(
        spark, df, rules_doc, args.table, settings=settings, baseline_store=store
    )
    if settings.slack_webhook or settings.ms_teams_webhook:
        from .notifications import notify

        notify(result, settings)
    result.cleanup()
    print(
        json.dumps(
            {
                "success": result.success,
                "highest_severity": result.highest_severity_level,
                "rules": len(result.rule_results),
                "failed": sum(1 for r in result.rule_results if not r.success),
                "input_rows": result.metrics.get("input_rows"),
                "wall_seconds": round(result.metrics.get("wall_seconds", 0), 2),
            }
        )
    )
    return 0 if result.success else 1


if __name__ == "__main__":
    sys.exit(main())
