"""Tracing helpers: spans kept in memory, Spark job groups, the Spark
event log, interval arithmetic and peak memory.

Spans are recorded by the benchmark around its calls into the engine;
nothing inside the engine is instrumented.  Spark work is attributed to
an operation through the job group the benchmark sets before the call
(``StatusTracker`` for job / stage / task counts) and, in a traced run,
through the event log Spark writes (task timings, GC, shuffle, spill and
Python-worker time).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``enabled=False`` records nothing, so
    the untraced run pays one attribute check per span site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        #: time spent recording spans
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self.spans.append(Span(name, start, end, attrs))
            self.overhead_s += time.perf_counter() - end

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark job groups
# ---------------------------------------------------------------------------


class JobGroups:
    """Run code under a named Spark job group and count what it ran."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        #: time spent setting and clearing job groups
        self.overhead_s = 0.0

    @contextmanager
    def group(self, gid: str):
        t = time.perf_counter()
        self.sc.setJobGroup(gid, gid)
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t

    def counts(self, gid: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) the group ran, from StatusTracker."""
        jobs = self.tracker.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stage = self.tracker.getStageInfo(s)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return len(jobs), stages, tasks

    def persisted_rdds(self) -> int:
        return self.sc._jsc.sc().getPersistentRDDs().size()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

#: SQL metric of Python-evaluating operators, in milliseconds
_PYTHON_MS = "time to run Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file:" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task metrics summed over every task of the
    group's jobs, plus the tasks' (launch, finish) intervals in epoch
    seconds."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {
            "task_busy_s": 0.0,
            "gc_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "python_s": 0.0,
            "task_intervals": [],
        }
    )
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line[:40]:
                    ev = json.loads(line)
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = gid
                elif '"SparkListenerTaskEnd"' in line[:40]:
                    ev = json.loads(line)
                    gid = stage_group.get(ev["Stage ID"])
                    if gid is None:
                        continue
                    rec = out[gid]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rec["task_intervals"].append(
                        (info["Launch Time"] / 1000, info["Finish Time"] / 1000)
                    )
                    rec["task_busy_s"] += m.get("Executor Run Time", 0) / 1000
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    rd = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == _PYTHON_MS:
                            rec["python_s"] += int(acc.get("Update") or 0) / 1000
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_peak_rss(*pids: int) -> None:
    """Reset the peak-RSS mark (VmHWM) of each process to its current
    RSS, so a later ``peak_rss_mb`` covers only what ran after this."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb(*pids: int) -> list[float]:
    """Peak resident memory (MB) of each process since its last reset."""
    return [_vm_hwm_kb(pid) / 1024 for pid in pids]
