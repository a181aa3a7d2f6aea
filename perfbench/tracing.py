"""Spans around the benchmark's calls into each layer, and the Spark-side
counters of the jobs those calls ran.

A traced call records a span (name, start, end, parent, item id) and runs
under its own Spark job group, so every job is attributed to the call that
caused it: Spark 4 records Java call sites such as ``save at
NativeMethodAccessorImpl.java:0`` as job names, so the job group is the only
reliable link. After each item the counters of its jobs are read from the
``statusTracker`` and the local ``/api/v1`` REST API, before
``spark.ui.retainedJobs``/``retainedStages`` can evict them.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import urllib.request
from contextlib import contextmanager, nullcontext

_STAGE_SUMS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
}


def _epoch(rest_time: str) -> float:
    """``2026-01-02T03:04:05.678GMT`` → seconds since the epoch."""
    stamp = dt.datetime.strptime(rest_time.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return stamp.replace(tzinfo=dt.timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, reach), min(end, hi)
        if end > start:
            total += end - start
            reach = end
    return total


class Tracer:
    """Span recorder. When ``enabled`` is false ``span`` is a no-op, so the
    timed runs execute exactly the calls the traced runs execute."""

    def __init__(self, spark, counters: SparkCounters):
        self.enabled = False
        self.spark = spark
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[tuple[int, str | None]] = []
        self.item: str | None = None
        self.groups: list[str] = []
        self.notes: dict = {}

    def begin_item(self, item_id: str) -> None:
        self.item, self.groups, self.notes = item_id, [], {}

    def record_storage(self) -> None:
        """Note the bytes of cached blocks, just before a release."""
        if self.enabled:
            self.notes["stored_bytes"] = self.counters.storage_bytes()

    @contextmanager
    def _span(self, name: str, own_group: bool):
        sc = self.spark.sparkContext
        group = None
        if own_group:
            group = f"{self.item}:{name}"
            self.groups.append(group)
            sc.setJobGroup(group, name)
        span = {"id": len(self.spans), "name": name, "item": self.item,
                "parent": self._stack[-1][0] if self._stack else None, "start": time.time()}
        self.spans.append(span)
        self._stack.append((span["id"], group))
        try:
            yield
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if own_group:
                outer = [g for _, g in self._stack if g is not None]
                if outer:
                    sc.setJobGroup(outer[-1], outer[-1].rsplit(":", 1)[1])
                else:
                    sc._jsc.clearJobGroup()

    def span(self, name: str, own_group: bool = True):
        """Span around one call into a layer. ``own_group`` gives the call a
        Spark job group of its own; a nested call whose jobs belong to its
        caller passes False."""
        if not self.enabled:
            return nullcontext()
        return self._span(name, own_group)

    def self_times(self, item: str) -> dict[str, float]:
        """Per span name, the summed duration of the item's spans minus the
        part covered by their child spans."""
        spans = [s for s in self.spans if s["item"] == item]
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class SparkCounters:
    """Reads job/stage counters for a set of job groups, plus process
    memory and Python-worker CPU from ``/proc``."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:  # noqa: S310 - local UI
            return json.load(resp)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store (and the REST API over it) reflects finished jobs."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def storage_bytes(self) -> int:
        self.drain()
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("/storage/rdd"))

    def jobs(self, groups: list[str]) -> list[dict]:
        self.drain()
        tracker = self.spark.sparkContext.statusTracker()
        wanted = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        return [j for j in self._get("/jobs") if j["jobId"] in wanted]

    def item_counters(self, jobs_by_group: dict[str, list[dict]], lo: float, hi: float) -> dict:
        """Counters of an item's jobs: per-group job/stage counts, stage
        metric sums, the worst stage's max/median task time, the time within
        ``[lo, hi]`` no job ran, and the duration of jobs that wrote output."""
        all_jobs = [j for js in jobs_by_group.values() for j in js]
        stage_ids = {s for j in all_jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?details=false")
                  if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")]
        out = {k: sum(s.get(v, 0) for s in stages) for k, v in _STAGE_SUMS.items()}
        by_stage = {s["stageId"]: s for s in stages}
        out["group_jobs"] = {g: len(js) for g, js in jobs_by_group.items()}
        out["group_stages"] = {
            g: sum(1 for j in js for sid in j["stageIds"] if sid in by_stage) for g, js in jobs_by_group.items()
        }
        skew = 1.0
        for s in stages:
            if s["numTasks"] >= 2:
                q = self._get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
                median, worst = q["executorRunTime"]
                skew = max(skew, worst / max(median, 1.0))
        out["task_skew"] = skew
        spans = [(_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
                 for j in all_jobs if j.get("submissionTime") and j.get("completionTime")]
        out["driver_gap_s"] = (hi - lo) - _covered(spans, lo, hi)
        out["write_s"] = sum(
            _epoch(j["completionTime"]) - _epoch(j["submissionTime"])
            for j in all_jobs
            if j.get("completionTime") and any(by_stage.get(sid, {}).get("outputBytes", 0) > 0 for sid in j["stageIds"])
        )
        return out

    def _proc_status_kb(self, pid: int | str, key: str) -> int:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
        return 0

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus that of this Python process."""
        return (self._proc_status_kb(self.jvm_pid, "VmHWM") + self._proc_status_kb("self", "VmHWM")) / 1024.0

    def python_worker_cpu_s(self) -> float:
        """User+system CPU (including reaped children) of every Python
        process descended from the JVM: the PySpark daemon and its workers."""
        parents, stats = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    raw = fh.read()
            except OSError:
                continue
            comm = raw[raw.index("(") + 1: raw.rindex(")")]
            fields = raw[raw.rindex(")") + 2:].split()
            parents[int(entry)] = int(fields[1])
            if comm.startswith("python"):
                stats[int(entry)] = sum(int(x) for x in fields[11:15])
        ticks = 0
        for pid, cpu in stats.items():
            p = parents.get(pid)
            while p and p != self.jvm_pid:
                p = parents.get(p)
            if p == self.jvm_pid:
                ticks += cpu
        return ticks / os.sysconf("SC_CLK_TCK")
