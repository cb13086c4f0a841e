"""Measurement helpers: metric derivations, Spark event-log parsing, a
process-tree RSS sampler and an in-memory span tracer.

Nothing here imports Spark, so the derivations can be tested on canned
inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from typing import Dict, Iterable, List, Optional, Sequence, Tuple


def median(values: Sequence[float]) -> float:
    return statistics.median(values)


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    ordered = sorted(values)
    if len(ordered) == 1:
        return float(ordered[0])
    pos = (len(ordered) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def scaling_eff(rate_n: float, rate_1: float, n: int) -> float:
    """Throughput at ``local[n]`` over ``n`` times throughput at
    ``local[1]`` (1.0 is perfect linear scaling)."""
    return rate_n / (n * rate_1)


def udf_overhead_s(executor_run_s: float, kernel_s: float) -> float:
    """Executor run time of a job minus the single-core in-process kernel
    time for the same documents: what the Spark/Arrow/Python-worker boundary
    adds on top of the work itself."""
    return executor_run_s - kernel_s


def task_skew(durations: Sequence[float]) -> float:
    """Slowest task over the median task (1.0 means no straggler)."""
    mid = median(durations)
    return max(durations) / mid if mid > 0 else float("inf")


def rows_digest(rows: Iterable[tuple]) -> str:
    """Order-independent digest of output rows: sort their reprs, hash."""
    h = hashlib.sha256()
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode("utf-8") + b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def parse_event_log(lines: Iterable[str]) -> Dict[str, dict]:
    """Aggregate task metrics per job group from Spark event-log lines.

    Returns ``{group: {"tasks", "failed", "run_s", "gc_s", "records_read",
    "shuffle_write_bytes", "stage_tasks": {stage: [task seconds]},
    "stage_run_s": {stage: executor run seconds}}}``.  Tasks of jobs
    without a job group are filed under ``""``."""
    stage_group: Dict[int, str] = {}
    groups: Dict[str, dict] = {}
    for line in lines:
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id", "")
            for stage in event.get("Stage IDs", []):
                stage_group[stage] = group
        elif kind == "SparkListenerTaskEnd":
            stage = event["Stage ID"]
            agg = groups.setdefault(stage_group.get(stage, ""), {
                "tasks": 0, "failed": 0, "run_s": 0.0, "gc_s": 0.0,
                "records_read": 0, "shuffle_write_bytes": 0,
                "stage_tasks": {}, "stage_run_s": {}})
            info = event["Task Info"]
            tm = event.get("Task Metrics") or {}
            agg["tasks"] += 1
            agg["failed"] += bool(info.get("Failed"))
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            agg["run_s"] += run_s
            agg["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            agg["records_read"] += (tm.get("Input Metrics") or {}).get(
                "Records Read", 0)
            agg["shuffle_write_bytes"] += (
                tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            agg["stage_tasks"].setdefault(stage, []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1000.0)
            agg["stage_run_s"][stage] = agg["stage_run_s"].get(stage, 0.0) + run_s
    return groups


def heaviest_stage_tasks(agg: dict) -> List[float]:
    """Task durations of the stage with the most executor run time (the
    stage whose stragglers set the job's wall time)."""
    stage = max(agg["stage_run_s"], key=agg["stage_run_s"].get)
    return agg["stage_tasks"][stage]


def read_event_logs(log_dir: str) -> Dict[str, dict]:
    lines: List[str] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            lines.extend(fh)
    return parse_event_log(lines)


# ---------------------------------------------------------------------------
# Peak memory of this process's descendants (driver JVM + Python workers)
# ---------------------------------------------------------------------------

_TICKS = os.sysconf("SC_CLK_TCK")
# A child younger than this is skipped: the JVM spawns short-lived helpers
# with vfork, which report the JVM's whole address space until they exec.
MIN_AGE_S = 0.5


def _children_map() -> Dict[int, List[Tuple[int, float]]]:
    """ppid -> [(pid, start time in seconds since boot)]."""
    children: Dict[int, List[Tuple[int, float]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while scanning
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(
            (int(entry), int(fields[19]) / _TICKS))
    return children


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (a forked Python worker and its
    daemon) are split between the processes that map them, not counted
    twice."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    with open("/proc/uptime") as fh:
        now = float(fh.read().split()[0])
    children = _children_map()
    total, todo = 0, [root]
    while todo:
        for pid, started in children.get(todo.pop(), []):
            todo.append(pid)
            if now - started < MIN_AGE_S:
                continue
            try:
                total += _pss_bytes(pid)
            except OSError:
                continue  # exited while sampling
    return total


class PeakMemorySampler:
    """Background thread that samples the summed proportional resident
    memory of every descendant of this process and keeps the peak.  Use as
    a context manager.  One sample walks the JVM's page tables (about 20 ms
    on a 4-core machine) in the driver process, beside the job's own driver
    code, so the interval keeps the sampler's load to a few percent of a
    core; the fixed-size heap makes the footprint flat enough that a coarse
    interval still finds the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemorySampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent, and one run id shared by
    every span of a run.  ``enabled=False`` makes :meth:`span` a no-op, so
    the timed (untraced) path carries no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        record = {"name": name, "run_id": self.run_id,
                  "parent": self._stack[-1] if self._stack else None,
                  "id": len(self.spans), "start": time.monotonic(),
                  "end": None, **attrs}
        self.spans.append(record)
        self._stack.append(record["id"])
        try:
            yield record
        finally:
            self._stack.pop()
            record["end"] = time.monotonic()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for record in self.spans:
                fh.write(json.dumps(record) + "\n")
