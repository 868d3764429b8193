"""Plan-inspection helpers: assert that the physical plans the engine
produces have the shape we designed for (pushdown reached the scan, columns
pruned, joins broadcast, codegen wide). Used by tests and by engineers
iterating on operator plans (`.explain`-driven development)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the file scan (PushedFilters: [...])."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out += [f.strip() for f in body.split(",")]
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read by the scan (ReadSchema) — pruning check."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols += [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
    return cols


def partition_filters(df: DataFrame) -> list[str]:
    """Partition-pruning predicates at the file scan (PartitionFilters)."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out += [f.strip() for f in body.split(",")]
    return out


def file_scan_stats(df: DataFrame) -> tuple[int, int, int] | None:
    """(partitionCount, totalNumberOfFiles, totalFileSize) of the plan's
    file scan AFTER partition pruning — the planning-time IO footprint.
    Returns None when the plan has no file scan (e.g. an empty relation
    after constant-false filter pruning)."""
    plan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if "FileSourceScan" in leaf.getClass().getName():
            listing = leaf.selectedPartitions()
            return (
                int(listing.partitionCount()),
                int(listing.totalNumberOfFiles()),
                int(listing.totalFileSize()),
            )
    return None


def count_shuffles(df: DataFrame) -> int:
    """Exchange operators in the physical plan (each is one shuffle).
    Counts the formatted plan's numbered node sections — the tree preview
    at the top repeats node names, so a raw substring count double-counts."""
    return len(re.findall(r"\(\d+\) Exchange", formatted_plan(df)))


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)

