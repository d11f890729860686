"""Measurement from outside the engine: spans around the package's
public calls, a /proc RSS sampler, and parsers that turn what Spark
already reports (StreamingQueryProgress, the event log) into data.

Nothing here imports pyspark, so the parsers are testable without a
session.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds, the clock Spark's event log uses
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    workload: str
    iteration: int


class Tracer:
    """In-memory spans, written out once at the end of the run. A
    disabled tracer records nothing, so untraced runs pay only the
    context-manager call."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent, self.workload, self.iteration))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- resident memory ---------------------------------------------------------


def children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    """Every process under ``pid``, children before grandchildren."""
    out, todo = [], children(pid)
    while todo:
        out.append(todo.pop(0))
        todo += children(out[-1])
    return out


def start_time(pid: int) -> str | None:
    """A live process's start time (field 22 of /proc/<pid>/stat), which
    tells it apart from a later process that reuses the pid; None once
    it has ended. A zombie leader whose other threads still run (as a
    JVM's main thread while the JVM shuts down) is live."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    state, threads = fields[0], int(fields[17])
    return None if state in ("Z", "X") and threads <= 1 else fields[19]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """RSS of ``root`` and all its descendants (the driver JVM and the
    Python workers it forks), in MiB."""
    return sum(_rss_kb(pid) for pid in [root] + descendants(root)) / 1024


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds on a
    daemon thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid = root_pid
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -- StreamingQueryProgress ---------------------------------------------------


def progress_dicts(query) -> list[dict]:
    """Every retained StreamingQueryProgress of ``query`` as a dict."""
    out = []
    for p in query.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def trigger_rows(progress: list[dict]) -> list[dict]:
    """One flat record per trigger that processed data: the durationMs
    components plus the summed stateOperators counters."""
    rows = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        d = p.get("durationMs", {})
        ops = p.get("stateOperators", [])
        rows.append(
            {
                "batch_id": p.get("batchId"),
                "input_rows": p.get("numInputRows", 0),
                "trigger_ms": d.get("triggerExecution", 0),
                "query_planning_ms": d.get("queryPlanning", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "commit_offsets_ms": d.get("commitOffsets", 0),
                "latest_offset_ms": d.get("latestOffset", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "state_rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
                "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
            }
        )
    return rows


# -- checkpoint file log ------------------------------------------------------


def source_batches(checkpoint: str) -> dict[str, int]:
    """File name → batchId, from the file source's log
    (``<checkpoint>/sources/0/<batchId>``: a version line, then one
    JSON object per file). Every tenth batch the log is compacted into
    ``<batchId>.compact``, which repeats all earlier entries."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if not name.removesuffix(".compact").isdigit():
            continue
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.read().splitlines()
        except OSError:
            continue
        for line in lines[1:]:
            if line.startswith("{"):
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


# -- Spark event log ----------------------------------------------------------

_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
             "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
             "WindowInPandas", "PythonRDD", "PythonUDF", "ArrowPython")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def parse_event_log(path: str, windows: list[tuple[float, float]],
                    markers: dict[str, tuple[str, ...]] | None = None) -> dict:
    """Spark runtime counters from an event log, restricted to jobs
    submitted inside any of ``windows`` (time.time() seconds).

    Returns executor CPU/run/GC seconds, shuffle and spill bytes,
    job/stage/task counts, ``driver_s`` (window wall not covered by any
    job), ``python_stage_s`` (wall of stages that evaluate Python or
    Arrow UDFs), ``cpu_by_marker`` (for each name in ``markers``, the
    executor CPU of stages whose RDDs mention any of its strings, e.g.
    ``{"parse": ("Scan json",)}``) and per-description executor CPU
    (``cpu_by_desc``, from ``setJobDescription``)."""
    markers = markers or {}

    def in_window(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"] / 1000
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                jobs[ev["Job ID"]] = {"start": t, "end": t, "desc": desc, "keep": in_window(t)}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                text = json.dumps(info.get("RDD Info", [])) + info.get("Details", "")
                stages[info["Stage ID"]] = {
                    "wall": (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1000,
                    "python": any(m in text for m in _PY_NODES),
                    "marks": [m for m, subs in markers.items() if any(x in text for x in subs)],
                }
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))

    kept = {j for j, v in jobs.items() if v["keep"]}
    kept_stages = {s for s, j in stage_job.items() if j in kept and s in stages}
    out = {
        "executor_cpu_s": 0.0, "executor_run_s": 0.0, "gc_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "tasks": 0, "cpu_by_marker": dict.fromkeys(markers, 0.0), "cpu_by_desc": {},
    }
    for sid, m in tasks:
        if sid not in kept_stages:
            continue
        cpu = m.get("Executor CPU Time", 0) / 1e9
        out["tasks"] += 1
        out["executor_cpu_s"] += cpu
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000
        sr = m.get("Shuffle Read Metrics", {})
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for m in stages[sid]["marks"]:
            out["cpu_by_marker"][m] += cpu
        desc = jobs[stage_job[sid]]["desc"]
        out["cpu_by_desc"][desc] = out["cpu_by_desc"].get(desc, 0.0) + cpu
    out["jobs"] = len(kept)
    out["stages"] = len(kept_stages)
    out["python_stage_s"] = sum(stages[s]["wall"] for s in kept_stages if stages[s]["python"])
    busy = sum(_covered([(max(jobs[j]["start"], a), min(jobs[j]["end"], b)) for j in kept
                         if jobs[j]["end"] > a and jobs[j]["start"] < b]) for a, b in windows)
    out["driver_s"] = sum(b - a for a, b in windows) - busy
    return out


def find_event_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]
