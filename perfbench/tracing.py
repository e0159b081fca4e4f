"""In-memory spans, Spark job attribution and host counters for the benchmark.

A span records name, start, end, parent and op id. While a span is open
every Spark job the driver submits carries the span's job group, so the
Spark monitoring REST API can attribute jobs, stages and tasks to it
after the run.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class NullTracer:
    """Tracing off: spans and counts cost nothing."""

    def span(self, name: str, op: int):
        return nullcontext()

    def count(self, name: str, value: float) -> None:
        pass


class Tracer:
    """Tracing on: keeps spans and per-op counts in memory."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str, op: int):
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the children's."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child_s[s["id"]]
        return dict(out)

    def root_of(self, span_id: int) -> dict:
        s = self.spans[span_id]
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def spark_work_by_span(spark_context, settle_s: float = 10.0) -> dict[int, dict]:
    """Spark work per span id, from the monitoring REST API.

    Waits until the listener has recorded every job the status tracker
    knows, then sums each job's completed stages."""
    ui = spark_context.uiWebUrl
    if not ui:
        raise RuntimeError("Spark UI is off; the traced run needs its REST API")
    app = spark_context.applicationId
    base = f"{ui}/api/v1/applications/{app}"
    tracker = spark_context.statusTracker()
    deadline = time.monotonic() + settle_s
    while True:
        jobs = _get_json(f"{base}/jobs")
        running = tracker.getActiveJobsIds()
        if (not running and all(j["status"] != "RUNNING" for j in jobs)) or (
            time.monotonic() > deadline
        ):
            break
        time.sleep(0.2)
    by_stage = defaultdict(list)  # stage id -> its completed attempts
    for s in _get_json(f"{base}/stages?status=complete"):
        by_stage[s["stageId"]].append(s)
    out: dict[int, dict] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if not group.startswith("span-"):
            continue
        acc = out.setdefault(int(group[5:]), defaultdict(float))
        acc["jobs"] += 1
        for stage_id in j.get("stageIds", []):
            for s in by_stage.get(stage_id, []):
                acc["stages"] += 1
                acc["tasks"] += s.get("numCompleteTasks", 0)
                acc["failed_tasks"] += s.get("numFailedTasks", 0)
                acc["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
                acc["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                acc["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get(
                    "diskBytesSpilled", 0
                )
                acc["input_bytes"] += s.get("inputBytes", 0)
                acc["output_bytes"] += s.get("outputBytes", 0)
                acc["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
                acc["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                acc["jvm_gc_s"] += s.get("jvmGcTime", 0) / 1e3
                acc["peak_exec_mem_mb"] = max(
                    acc["peak_exec_mem_mb"], s.get("peakExecutionMemory", 0) / 2**20
                )
    return out


def host_counters() -> dict[str, int]:
    """Aggregate CPU jiffies from ``/proc/stat`` (total and steal)."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return {"total": sum(fields[:8]), "steal": fields[7]}


def steal_frac(before: dict[str, int], after: dict[str, int]) -> float:
    total = after["total"] - before["total"]
    return (after["steal"] - before["steal"]) / total if total else 0.0


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of process ``pid``."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
