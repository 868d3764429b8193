"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at a given sf dir, compare row count,
column names, and an order-insensitive value hash. Each status line also
carries the Spark side's wall-seconds: query build (which runs any eager
jobs, e.g. closure rounds) plus collect. Usage:

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float) or type(v).__name__ in ("float32", "float64"):
        # dtype-strict: an integral float must NOT hash like an int — the
        # driver's value hash is dtype-sensitive (r04: DuckDB HUGEINT ->
        # pandas float64 passed here as "5" == int 5 while the driver
        # failed). Emit "5.0" for float, "5" for int.
        v = float(v)
        if math.isnan(v):
            return "nan"
        s = f"{v:.9g}"
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"
        return s
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod

    # one task slot per core this process may run on (the affinity mask,
    # not the host's core count, which oversubscribes a pinned process)
    cores = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.perf_counter() - t0
        if name not in oracles:
            print(
                f"{name:32s} rows-only: {len(srows)} rows, cols={scols} "
                f"spark={spark_s:.2f}s"
            )
            continue
        ddf = con.sql(oracles[name])
        dcols = [c[0] for c in ddf.description]
        # fetch via pandas, not fetchall(): the driver's harness plausibly
        # goes through arrow/pandas, where DuckDB HUGEINT (sum()) and DECIMAL
        # literals coerce to float64 — fetchall() hides that (r01: 4 rows
        # hashed identical locally but failed the driver's value-hash)
        pdf = ddf.df()
        drows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        ok_cols = sorted(scols) == sorted(dcols)
        ok_rows = len(srows) == len(drows)
        h_s = frame_hash(scols, srows)
        h_d = frame_hash(dcols, drows)
        ok_hash = h_s == h_d
        status = "OK " if (ok_cols and ok_rows and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:32s} {status} rows={len(srows)}/{len(drows)} "
            f"cols_match={ok_cols} hash={'=' if ok_hash else f'{h_s}!={h_d}'} "
            f"spark={spark_s:.2f}s"
        )
        if status == "FAIL" and (not ok_cols or not ok_hash):
            print(f"    spark cols: {scols}\n    duck  cols: {dcols}")
            for a, b in list(zip(sorted(srows)[:3], sorted(drows)[:3])):
                print(f"    s: {a}\n    d: {b}")
    print("entry smoke:", entrymod.entry(spark).count(), "rows")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
