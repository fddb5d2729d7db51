"""Measurement from outside the program: spans, Spark monitoring-API
counters and /proc memory.

Nothing here imports the program. Spans are opened by the benchmark's
own wrappers around calls into the program's public functions; engine
counters come from Spark's REST monitoring API (jobs, stages, SQL
executions) on the driver's UI port; memory comes from /proc because
psutil is not installed.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """In-memory spans: (name, start, end, parent, op). Written out by
    ``dump`` when the run ends. A disabled tracer records nothing and
    costs one attribute check per span."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": stack[-1]["id"] if stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        stack.append(rec)
        main = threading.current_thread() is threading.main_thread()
        if main and self.spark is not None:
            # job group per span: the UI and the monitoring API show
            # which layer call started each Spark job
            self.spark.sparkContext.setJobGroup(
                f"{name}#{rec['id']}", name, interruptOnCancel=False)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            if main and self.spark is not None:
                parent = stack[-1] if stack else None
                if parent is None:
                    self.spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", None)
                else:
                    self.spark.sparkContext.setJobGroup(
                        f"{parent['name']}#{parent['id']}", parent["name"],
                        interruptOnCancel=False)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval its direct children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union_length(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])
                 if c["end"] is not None], s["start"], s["end"])
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + (s["end"] - s["start"]) - covered)
        return out

    def inside(self, name: str) -> bool:
        """Whether a span called ``name`` is open on this thread."""
        return any(s["name"] == name
                   for s in getattr(self._stack, "s", None) or ())

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Durations of the finished spans called ``name`` that started
        at or after ``since``."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and s["start"] >= since]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "self_s": self.self_times(), **extra}, fh, indent=1)


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
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
# Spark monitoring API

def _epoch(ts: str | None) -> float | None:
    """'2026-10-17T05:00:00.123GMT' -> epoch seconds."""
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", ""),
                             "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


_DURATION_RE = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _first_duration_s(value: str) -> float:
    """SQL metric strings look like '12 ms' or
    'total (min, med, max ...)\\n1.2 s (...)'; the first duration is the
    total."""
    m = _DURATION_RE.search(value.replace(",", ""))
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


class SparkMonitor:
    """Reads the driver's REST monitoring API and aggregates everything
    Spark ran inside a wall-clock window. A closed loop with one client
    runs nothing else, so the window attributes jobs to the op."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}",
                                    timeout=30) as resp:
            return json.load(resp)

    def window(self, t0: float, t1: float) -> dict:
        jobs = [j for j in self._get("jobs")
                if t0 <= (_epoch(j.get("submissionTime")) or 0) <= t1]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("stages")
                  if s["stageId"] in stage_ids
                  and s["status"] == "COMPLETE"]
        agg = {k: sum(s.get(k, 0) for s in stages) for k in (
            "numCompleteTasks", "numFailedTasks", "executorRunTime",
            "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
            "outputBytes", "shuffleWriteBytes", "shuffleWriteRecords",
            "shuffleFetchWaitTime", "memoryBytesSpilled",
            "diskBytesSpilled")}
        scan_ms = sum(s["executorRunTime"] for s in stages
                      if s.get("inputBytes", 0) > 0)
        skew = 1.0
        if stages:
            longest = max(stages, key=lambda s: s["executorRunTime"])
            q = self._get(f"stages/{longest['stageId']}/"
                          f"{longest['attemptId']}/taskSummary"
                          "?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            skew = mx / med if med > 0 else 1.0
        groups: dict[str, int] = {}
        for j in jobs:   # job group "<span name>#<span id>" -> span name
            g = (j.get("jobGroup") or "").rsplit("#", 1)[0]
            groups[g] = groups.get(g, 0) + 1
        write_s = commit_s = 0.0
        executions = 0
        for ex in self._get("sql?details=true&planDescription=false"
                            "&offset=0&length=100000"):
            start = _epoch(ex.get("submissionTime"))
            if start is None or not t0 <= start <= t1:
                continue
            executions += 1
            for node in ex.get("nodes", []):
                if "InsertIntoHadoopFsRelation" not in node["nodeName"]:
                    continue
                write_s += ex.get("duration", 0) / 1000.0
                for m in node.get("metrics", []):
                    if m["name"] in ("task commit time", "job commit time"):
                        commit_s += _first_duration_s(m["value"])
        return {
            "jobs": len(jobs),
            "jobs_by_group": groups,
            "sql_executions": executions,
            "tasks": agg["numCompleteTasks"],
            "task_failures": agg["numFailedTasks"],
            "executor_run_s": agg["executorRunTime"] / 1000.0,
            "executor_cpu_s": agg["executorCpuTime"] / 1e9,
            "gc_s": agg["jvmGcTime"] / 1000.0,
            "scan_s": scan_ms / 1000.0,
            "input_bytes": agg["inputBytes"],
            "input_rows": agg["inputRecords"],
            "scan_tasks": sum(s["numCompleteTasks"] for s in stages
                              if s.get("inputBytes", 0) > 0),
            "output_bytes": agg["outputBytes"],
            "shuffle_write_bytes": agg["shuffleWriteBytes"],
            "shuffle_records": agg["shuffleWriteRecords"],
            "fetch_wait_s": agg["shuffleFetchWaitTime"] / 1000.0,
            "spill_bytes": agg["memoryBytesSpilled"]
            + agg["diskBytesSpilled"],
            "task_skew": skew,
            "write_s": write_s,
            "commit_s": commit_s,
        }


def median_of(rows: list[dict]) -> dict:
    """Per-key median over per-op metric dicts."""
    if not rows:
        return {}
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]
            if isinstance(rows[0][k], (int, float))}


# ---------------------------------------------------------------------------
# /proc memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:   # the process ended
        return 0


class RssSampler:
    """Samples the summed RSS of this process, the driver JVM and the
    Python workers (the whole process tree) on a background thread.

    A process counts only once it has been seen in two consecutive
    samples: a child the JVM is spawning shares the JVM's address space
    until it execs, and counting it would add the whole JVM again."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root, seen = os.getpid(), set()
        while not self._stop.is_set():
            pids = set(tree_pids(root))
            self.peak = max(self.peak, sum(rss_bytes(p)
                                           for p in pids & seen))
            seen = pids
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
