"""Measurement probes: process-tree CPU, Spark storage polling, spans and
the Spark event-log parser used by the traced run."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, user+sys+reaped-children CPU seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[1] is ppid; utime, stime, cutime, cstime are fields 11..14
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` (not including it)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    out, frontier = [], {root}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        out += sorted(kids)
        frontier = kids
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + sys) of this process and every process below it:
    the Python driver, the JVM and any Python workers. Children that ended
    and were reaped are included through their parent's cutime/cstime."""
    me = os.getpid()
    total = 0.0
    for pid in [me] + descendants(me):
        st = _proc_stat(pid)
        if st is not None:
            total += st[1]
    return total


def cached_bytes(sc) -> int:
    """Memory + disk bytes held by persisted RDD blocks right now."""
    return sum(
        int(info.memSize()) + int(info.diskSize())
        for info in sc._jsc.sc().getRDDStorageInfo()
    )


def persistent_rdds(sc) -> int:
    return int(sc._jsc.sc().getPersistentRDDs().size())


class StoragePoller:
    """Polls ``cached_bytes`` on a background thread and keeps the peak."""

    def __init__(self, sc, interval_s: float = 0.1) -> None:
        self._sc = sc
        self._interval = interval_s
        self._stop = threading.Event()
        self._active = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0
        self._thread = threading.Thread(target=self._loop, name="storage-poller", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(self._interval):
                value = cached_bytes(self._sc)
                with self._lock:
                    self._peak = max(self._peak, value)
                self._stop.wait(self._interval)

    def start(self) -> None:
        with self._lock:
            self._peak = 0
        self._active.set()

    def finish(self) -> int:
        """Stop sampling; return the peak, including one final sample."""
        self._active.clear()
        value = cached_bytes(self._sc)
        with self._lock:
            self._peak = max(self._peak, value)
            return self._peak

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=10)


class Spans:
    """Named [start, end) intervals in epoch seconds, recorded around the
    calls the benchmark makes into each module. Kept in memory and written
    out at the end of a traced run."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), **attrs}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.records.append(rec)

    def total(self, name: str, start: float, end: float) -> float:
        """Summed duration of spans called ``name`` inside [start, end]."""
        return sum(
            r["end"] - r["start"]
            for r in self.records
            if r["name"] == name and r["start"] >= start and r["end"] <= end
        )


def parse_event_log(log_dir: str) -> list[dict]:
    """One dict per Spark job from the event log in ``log_dir``:
    submission/completion time (epoch s) and task totals over the job's
    stages (run time, CPU, GC, input, shuffle, spill, output, task skew)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = {}
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "job": jid,
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": set(),
                    "tasks": 0,
                    "run_s": 0.0,
                    "cpu_s": 0.0,
                    "gc_s": 0.0,
                    "input_b": 0,
                    "shuffle_read_b": 0,
                    "shuffle_write_b": 0,
                    "spill_b": 0,
                    "output_b": 0,
                    "skew": 1.0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                job = jobs.get(stage_job.get(sid))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                info = ev["Task Info"]
                job["stages"].add(sid)
                job["tasks"] += 1
                job["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                job["input_b"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics", {})
                job["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["shuffle_write_b"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                job["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                job["output_b"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                stage_tasks.setdefault(sid, []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0
                )
    for sid, durations in stage_tasks.items():
        if len(durations) >= 2:
            med = statistics.median(durations)
            if med > 0:
                job = jobs[stage_job[sid]]
                job["skew"] = max(job["skew"], max(durations) / med)
    for job in jobs.values():
        job["stages"] = len(job["stages"])
    return sorted(jobs.values(), key=lambda j: j["submit"])


def jobs_in(jobs: list[dict], start: float, end: float) -> list[dict]:
    """Jobs whose submission time falls inside [start, end]. Engine pool
    threads do not inherit job descriptions, so submission time is the
    attribution key."""
    return [j for j in jobs if start <= j["submit"] <= end]
