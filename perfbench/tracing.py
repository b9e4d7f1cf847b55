"""Spans, Spark stage metrics and process memory for the benchmark.

``Tracer`` records spans (name, start, end, parent, request) around the
benchmark's calls into each layer and keeps them in memory. Spark's
own per-stage metrics are read after the run from the local UI's REST
API, by job group: every traced layer call runs under a job group named
``<request>:<layer>``. ``RssSampler`` polls /proc for the resident
memory of the Python workers and of the JVM.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: int, spark_group: bool = True):
        """Time a block; Spark jobs started inside it run under the job
        group ``<request>:<name>`` (``spark_group=False`` leaves the
        group of the enclosing span in place)."""
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "request": request, "parent": parent,
               "start": time.time(), "end": None,
               "group": f"{request}:{name}" if spark_group else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if spark_group:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if spark_group:
                outer = (self.spans[self._stack[-1]]["group"]
                         if self._stack else None)
                self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def self_times(self) -> list[dict]:
        """Each span with its self time: its duration minus the part of
        it that its child spans cover."""
        out = []
        for i, s in enumerate(self.spans):
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == i)
            covered = _union_length(kids, s["start"], s["end"])
            out.append(dict(s, dur=s["end"] - s["start"],
                            self=s["end"] - s["start"] - covered))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.self_times(), f)


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
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


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


class SparkStages:
    """Per-job-group stage metrics from the Spark UI's REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def collect(self) -> dict:
        """group -> {jobs, stages: [stage dicts]} for all jobs so far."""
        try:   # let the UI listener catch up with the last jobs
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — best effort; REST still works
            time.sleep(0.5)
        by_id: dict = {}
        for st in self._get("/stages"):
            if st.get("status") == "COMPLETE":
                by_id.setdefault(st["stageId"], []).append(st)
        groups: dict = {}
        for job in self._get("/jobs"):
            g = groups.setdefault(job.get("jobGroup"),
                                  {"jobs": 0, "stages": []})
            g["jobs"] += 1
            for sid in job["stageIds"]:
                g["stages"] += by_id.get(sid, [])
        for g in groups.values():
            # a stage shared by two jobs of a group counts once
            uniq = {(s["stageId"], s["attemptId"]): s for s in g["stages"]}
            g["stages"] = list(uniq.values())
        return groups

    def max_task_s(self, st: dict) -> float:
        q = self._get(f"/stages/{st['stageId']}/{st['attemptId']}/"
                      "taskSummary?quantiles=1.0")
        return q["executorRunTime"][0] / 1000.0


def group_metrics(stages: SparkStages, g: dict | None,
                  start: float, end: float) -> dict:
    """Spark totals for one job group, timed against a span."""
    if not g:
        return {"jobs": 0, "stages": 0, "tasks": 0, "task_busy_s": 0.0,
                "shuffle_write_mb": 0.0, "task_skew": 1.0,
                "driver_only_s": end - start, "input_records": 0,
                "scan_shuffle_records": 0, "shuffle_read_shuffle_records": 0,
                "scan_stages": 0}
    sts = g["stages"]
    busy = sum(s["executorRunTime"] for s in sts) / 1000.0
    sum_max = sum(stages.max_task_s(s) for s in sts if s["numCompleteTasks"])
    sum_mean = sum(s["executorRunTime"] / 1000.0 / s["numCompleteTasks"]
                   for s in sts if s["numCompleteTasks"])
    running = [(_ts(s["submissionTime"]), _ts(s["completionTime"]))
               for s in sts if s.get("submissionTime")
               and s.get("completionTime")]
    return {
        "jobs": g["jobs"],
        "stages": len(sts),
        "tasks": sum(s["numCompleteTasks"] for s in sts),
        "task_busy_s": busy,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in sts) / 1e6,
        # longest task over mean task, summed over stages: 1.0 when
        # every stage's tasks are equally long
        "task_skew": sum_max / sum_mean if sum_mean > 0 else 1.0,
        "driver_only_s": (end - start) - _union_length(running, start, end),
        "input_records": sum(s["inputRecords"] for s in sts),
        # records shuffled out of stages that scan a file source
        "scan_shuffle_records": sum(s["shuffleWriteRecords"] for s in sts
                                    if s["inputRecords"] > 0),
        # records shuffled out of stages that read a shuffle
        "shuffle_read_shuffle_records": sum(
            s["shuffleWriteRecords"] for s in sts
            if s["shuffleReadRecords"] > 0),
        "scan_stages": sum(1 for s in sts if s["inputRecords"] > 0),
    }


class RssSampler:
    """Peak summed RSS (MB) of this process's Python descendants, and
    peak RSS of its JVM child, polled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.py_peak = 0.0
        self.jvm_peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            procs = _proc_table()
            kids = _descendants(me, procs)
            py = sum(procs[p][2] for p in kids if "python" in procs[p][1])
            jvm = sum(procs[p][2] for p in kids if "java" in procs[p][1])
            self.py_peak = max(self.py_peak, py)
            self.jvm_peak = max(self.jvm_peak, jvm)
            self._stop.wait(self.period)


def _proc_table() -> dict:
    """pid -> (ppid, command name, rss MB) for every readable process."""
    out = {}
    page_mb = os.sysconf("SC_PAGE_SIZE") / 1e6
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), comm, int(fields[21]) * page_mb)
    return out


def _descendants(root: int, procs: dict) -> list[int]:
    kids: dict = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
