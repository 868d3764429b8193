"""Benchmark of warm, recomputing validation runs.

    python3 perfbench/run.py --workload suite40 --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. One process drives one workload as a
closed loop with a single caller:

1. set-up: start Spark, generate the seeded inputs three times, load them
   once (``setup_s`` = session start + median generation + load);
2. DuckDB derives the expected unexpected-counts from the same parquet;
3. one cold iteration (``cold_s``), then warm iterations until ``--seconds``
   have passed (at least three). Every iteration recomputes: before it
   starts, no RDD may be persisted and no storage memory held; after it,
   the result's ``cleanup()`` and ``spark.catalog.clearCache()`` run;
4. every iteration's outputs are checked: input row count, DuckDB counts,
   and validatie/afwijking digests identical to the first iteration's.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on Spark's
event log, attributes each job to the benchmark span that contains its
submission time, prints the per-layer metrics and writes spans, jobs and the
layer table to ``.perfbench_out/``. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: input size per workload (rows; documents for neardup)
SIZES = {"suite40": 100_000, "neardup": 10_000, "keys": 400_000}
SETUP_REPS = 3
MIN_WARM = 2
DRIVER_MEMORY = "4g"
#: a run is killed (no result, exit code 3) after this many seconds
WATCHDOG_S = 170

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "verdict_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "cached_mb": "MB",
}

PER_LAYER = {
    "engine.fused_scan_s": "s",
    "engine.scan_floor_ratio": "1",
    "floor.scan_s": "s",
    "engine.compile_s": "s",
    "engine.viol_counts_s": "s",
    "engine.distinct_wait_s": "s",
    "engine.uniq_wait_s": "s",
    "engine.ref_wait_s": "s",
    "engine.drift_wait_s": "s",
    "engine.build_outputs_s": "s",
    "engine.afwijking_s": "s",
    "engine.input_rows": "count",
    "engine.predicate_violation_rows": "count",
    "writers.write_s": "s",
    "writers.files_written": "count",
    "writers.bytes_written_mb": "MB",
    "checkpoint.bucket_s": "s",
    "checkpoint.bucket_max_s": "s",
    "checkpoint.overhead_s": "s",
    "dedup.pairs_s": "s",
    "dedup.closure_s": "s",
    "dedup.drop_s": "s",
    "dedup.pairs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "1",
    "spark.persistent_rdds_left": "count",
    "bench.fail_frac": "1",
    "bench.traced_wall_s": "s",
}

#: why a per-layer metric reads 0 on a workload that does not exercise it
ABSENT = {
    "engine.": "no ValidationEngine.run on this workload",
    "floor.": "the scan floor is measured on suite40 only",
    "engine.scan_floor_ratio": "the scan floor is measured on suite40 only",
    "writers.": "this workload writes nothing",
    "checkpoint.": "no checkpoint loop on this workload",
    "dedup.": "no dedup operator on this workload",
}

MB = 1024.0 * 1024.0


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def build_session(work: str, trace: bool, app: str):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        # 16 small part files per table: one scan task per file
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        )
    )
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{events}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, probes) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (Python workers included) has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = probes.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def guard(sc, probes) -> None:
    """The recompute guard: nothing persisted when an iteration starts."""
    n, held = probes.persistent_rdds(sc), probes.cached_bytes(sc)
    if n or held:
        raise RuntimeError(
            f"recompute guard: {n} persisted RDDs, {held} storage bytes before an iteration"
        )


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping markers and checksums."""
    files = size = 0
    for base, _, names in os.walk(path):
        for name in names:
            if not name.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(base, name))
    return files, size


def median(values):
    return statistics.median(values) if values else 0.0


def iteration(wl, i: int, spark, spans, poller, probes) -> tuple[dict, dict | None]:
    """Run, time and check one iteration of ``wl``; always release what it
    persisted. Returns the record and the iteration's output digest."""
    sc = spark.sparkContext
    guard(sc, probes)
    wl.n_iter = i
    rec = {"index": i, "workload": wl.name, "errors": []}
    it = None
    cpu0 = probes.tree_cpu_s()
    poller.start()
    t0 = time.monotonic()
    try:
        with spans.span("iteration", index=i, workload=wl.name) as sp:
            it = wl.iterate()
        rec["wall_s"] = time.monotonic() - t0
        rec["cpu_s"] = probes.tree_cpu_s() - cpu0
        rec["cached_mb"] = poller.finish() / MB
        rec["verdict_s"] = it.verdict_s
        rec["start"], rec["end"] = sp["start"], sp["end"]
        rec["persistent_rdds_left"] = probes.persistent_rdds(sc)
        t1 = time.monotonic()
        wl.post(it)
        rec["errors"] = wl.check(it)
        rec["check_s"] = time.monotonic() - t1
        rec["layers"] = dict(it.layers)
        if it.out:
            files, size = dir_stats(it.out)
            rec["layers"]["writers.files_written"] = files
            rec["layers"]["writers.bytes_written_mb"] = size / MB
    except Exception as exc:  # an iteration that raises counts as failed
        poller.finish()
        rec["errors"].append(f"{type(exc).__name__}: {exc}")
    finally:
        t1 = time.monotonic()
        if it is not None:
            it.release()
        spark.catalog.clearCache()
        wl.drop_dirs()
        rec["release_s"] = time.monotonic() - t1
    for err in rec["errors"]:
        print(f"perfbench: {wl.name} iteration {i} failed: {err}", file=sys.stderr)
    return rec, (it.digest if it is not None else None)


def run(args: argparse.Namespace, work: str) -> dict:
    import probes
    import workloads

    trace = bool(args.trace)
    spark = build_session(work, trace, f"perfbench-{args.workload}")
    session_s = time.monotonic() - T_START
    spans = probes.Spans()
    wl = workloads.WORKLOADS[args.workload](spark, spans, work, trace, n_rows=SIZES[args.workload])
    poller = None
    try:
        gens = []
        for _ in range(SETUP_REPS):
            shutil.rmtree(wl.data, ignore_errors=True)
            t0 = time.monotonic()
            wl.generate(args.seed)
            gens.append(time.monotonic() - t0)
        t0 = time.monotonic()
        wl.load()
        setup_s = session_s + median(gens) + (time.monotonic() - t0)
        timeline = {"session": session_s, "setup": time.monotonic() - T_START}
        wl.expect()
        timeline["expect"] = time.monotonic() - T_START

        poller = probes.StoragePoller(spark.sparkContext)
        iters: list[dict] = []
        first_digest = None
        window_start = None
        while True:
            rec, digest = iteration(wl, len(iters), spark, spans, poller, probes)
            if first_digest is None:
                first_digest = digest
            elif digest != first_digest:
                rec["errors"].append("output digest differs from the first iteration")
            iters.append(rec)
            if trace and len(iters) > 1 and not rec["errors"]:
                floor = wl.floor_scan()
                if floor is not None:
                    rec["layers"]["floor.scan_s"] = floor
            if window_start is None:
                window_start = time.monotonic()
            elif len(iters) - 1 >= MIN_WARM and time.monotonic() - window_start >= args.seconds:
                break
        timeline["iterations"] = time.monotonic() - T_START
        extra = None
        if trace and wl.probe is not None:
            # one pass of a layer this workload does not call, on its input
            side = wl.probe(spark, spans, work, trace, n_rows=wl.n_rows)
            side.data = wl.data
            side.load()
            side.expect()
            extra, _ = iteration(side, len(iters), spark, spans, poller, probes)
    finally:
        if poller is not None:
            poller.close()
        stop_session(spark, probes)
    timeline["stopped"] = time.monotonic() - T_START

    jobs = probes.parse_event_log(os.path.join(work, "events")) if trace else []
    return summarize(args, wl, setup_s, gens, timeline, iters, extra, spans, jobs, first_digest)


def layer_row(rec: dict, spans, jobs: list[dict], probes) -> dict:
    """Per-layer numbers of one traced iteration."""
    row = dict(rec["layers"])
    mine = probes.jobs_in(jobs, rec["start"], rec["end"])
    row["spark.jobs"] = len(mine)
    row["spark.stages"] = sum(j["stages"] for j in mine)
    row["spark.tasks"] = sum(j["tasks"] for j in mine)
    row["spark.task_cpu_s"] = sum(j["cpu_s"] for j in mine)
    row["spark.gc_s"] = sum(j["gc_s"] for j in mine)
    row["spark.input_mb"] = sum(j["input_b"] for j in mine) / MB
    row["spark.shuffle_write_mb"] = sum(j["shuffle_write_b"] for j in mine) / MB
    row["spark.shuffle_read_mb"] = sum(j["shuffle_read_b"] for j in mine) / MB
    row["spark.spill_mb"] = sum(j["spill_b"] for j in mine) / MB
    row["spark.task_skew"] = max((j["skew"] for j in mine), default=1.0)
    row["spark.persistent_rdds_left"] = rec["persistent_rdds_left"]
    row["bench.traced_wall_s"] = rec["wall_s"]
    if "engine.compile_s" in row and "checkpoint.bucket_s" not in row:
        row["engine.afwijking_s"] = rec["wall_s"] - rec["verdict_s"]
    if "writers.files_written" in row:
        write_s = spans.total("writers.write_run_outputs", rec["start"], rec["end"])
        if not write_s:  # writes inside the checkpoint loop: jobs that wrote output
            write_s = sum(j["end"] - j["submit"] for j in mine if j["output_b"] and j["end"])
        row["writers.write_s"] = write_s
    if "checkpoint.bucket_sum_s" in row:
        row["checkpoint.overhead_s"] = rec["wall_s"] - row.pop("checkpoint.bucket_sum_s")
    if row.get("floor.scan_s"):
        row["engine.scan_floor_ratio"] = row["engine.fused_scan_s"] / row["floor.scan_s"]
    return row


def summarize(args, wl, setup_s, gens, timeline, iters, extra, spans, jobs, digest) -> dict:
    import probes
    import workloads

    everything = iters + ([extra] if extra else [])
    attempted = len(everything)
    failed = sum(1 for r in everything if r["errors"])
    ok_warm = [r for r in iters[1:] if not r["errors"]]
    cold = iters[0]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": wl.n_rows,
        "setup_generate_s": gens,
        "timeline_s": timeline,
        "iterations": [
            {
                k: r.get(k)
                for k in ("index", "wall_s", "verdict_s", "cpu_s", "cached_mb", "check_s", "release_s", "errors")
            }
            for r in everything
        ],
        "digest": workloads.digest_text(digest) if digest else None,
    }
    print(f"perfbench: {json.dumps(info)}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    wall = median([r["wall_s"] for r in ok_warm])
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "cold_s": cold.get("wall_s", 0.0),
            "verdict_s": median([r["verdict_s"] for r in ok_warm]),
            "wall_s": wall,
            "rows_per_s": wl.n_rows / wall if wall else 0.0,
            "cpu_s": median([r["cpu_s"] for r in ok_warm]),
            "cached_mb": median([r["cached_mb"] for r in ok_warm]),
        }
        with open(os.path.join(out_dir, f"untraced-{tag}.json"), "w") as fh:
            json.dump({"wall_s": wall}, fh)
        units = END_TO_END
    else:
        rows = [layer_row(r, spans, jobs, probes) for r in ok_warm]
        if extra and not extra["errors"]:
            side = layer_row(extra, spans, jobs, probes)
            probe_layers = {k: v for k, v in side.items() if k.startswith(("checkpoint.", "writers."))}
            rows = [{**row, **probe_layers} for row in rows]
            info["probe"] = side
        metrics, absent = {}, []
        for name in PER_LAYER:
            values = [row[name] for row in rows if name in row]
            if not values and name not in ("bench.fail_frac",):
                reason = ABSENT.get(name) or ABSENT.get(name.split(".")[0] + ".", "not measured")
                absent.append(f"{name} ({reason})")
            metrics[name] = median(values)
        metrics["bench.fail_frac"] = failed / attempted
        if absent:
            print(f"perfbench: zero because absent on {args.workload}: " + "; ".join(absent))
        overhead = None
        untraced = os.path.join(out_dir, f"untraced-{tag}.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                overhead = wall - json.load(fh)["wall_s"]
            print(f"perfbench: tracing overhead {overhead:.3f} s (traced wall_s - untraced wall_s)")
        with open(os.path.join(out_dir, f"trace-{tag}.json"), "w") as fh:
            json.dump(
                {
                    "info": info,
                    "tracing_overhead_s": overhead,
                    "layers": metrics,
                    "per_iteration": rows,
                    "spans": spans.records,
                    "jobs": jobs,
                },
                fh,
                indent=1,
                default=str,
            )
        units = PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dq_suite_amsterdam_spark")):
        print(
            f"perfbench: no dq_suite_amsterdam_spark package under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    # per-process scratch: a second run in the same checkout cannot clobber it
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]
    watchdog = threading.Timer(WATCHDOG_S - (time.monotonic() - T_START), _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        result = run(args, work)
    finally:
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's scratch is still there
            pass
    print(json.dumps(result))
    return 0


def _abort() -> None:
    """Watchdog: a run that would overrun its time limit (e.g. a JVM that
    never came up) kills everything it started and exits without a result."""
    import probes

    print(f"perfbench: no result after {WATCHDOG_S} s; aborting", file=sys.stderr, flush=True)
    pids = probes.descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:  # not our child: wait until it is gone
            deadline = time.monotonic() + 10
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
