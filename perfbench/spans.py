"""Spans around the benchmark's calls into each layer, reduced from Spark's event log.

A :class:`Tracer` gives each span one Spark job group and keeps the span's
wall-clock interval in memory. After the SparkContext stops,
:func:`reduce_event_log` folds the uncompressed, non-rolling JSON event log
into per-span totals: jobs, job intervals, task run time, shuffle,
input/output bytes and the parquet scans' SQL metrics (files and partitions
read), plus the application's job count and GC time.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

SQL_EVENT = "org.apache.spark.sql.execution.ui."
SCAN_METRICS = ("number of files read", "number of partitions read")


class Tracer:
    """Records spans as Spark job groups; a disabled tracer records nothing."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: dict[str, list[tuple[float, float]]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        self.sc.setJobGroup(name, name)
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans[name].append((t0, time.time() * 1000.0))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def _covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _scan_accumulators(plan: dict, out: dict[int, str]) -> None:
    if plan["nodeName"].startswith("Scan parquet"):
        for m in plan["metrics"]:
            if m["name"] in SCAN_METRICS:
                out[m["accumulatorId"]] = m["name"]
    for child in plan["children"]:
        _scan_accumulators(child, out)


def reduce_event_log(path: str, spans: dict[str, list[tuple[float, float]]], cores: int) -> dict:
    """Per-span and whole-application totals from one event log file.

    Returns ``{"spans": {name: {...}}, "app": {...}}``; span values are sums
    over all calls of the span, with ``calls`` the number of calls.
    """
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    scan_acc: dict[int, str] = {}
    per = defaultdict(lambda: defaultdict(float))
    app = defaultdict(float)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = e.get("Properties", {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"]}
                app["jobs"] += 1
                if group is not None:
                    per[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                stage_group[e["Stage Info"]["Stage ID"]] = e.get("Properties", {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                app["gc_ms"] += m.get("JVM GC Time", 0)
                group = stage_group.get(e["Stage ID"])
                if group is None or not m:
                    continue
                s = per[group]
                s["task_run_ms"] += m["Executor Run Time"]
                s["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                s["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                s["input_records"] += m["Input Metrics"]["Records Read"]
                s["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            elif kind in (SQL_EVENT + "SparkListenerSQLExecutionStart", SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate"):
                if kind.endswith("ExecutionStart"):
                    exec_group[e["executionId"]] = e.get("jobGroupId")
                _scan_accumulators(e["sparkPlanInfo"], scan_acc)
            elif kind == SQL_EVENT + "SparkListenerDriverAccumUpdates":
                group = exec_group.get(e["executionId"])
                if group is None:
                    continue
                for acc_id, value in e["accumUpdates"]:
                    name = scan_acc.get(acc_id)
                    if name is not None:
                        per[group][name.replace(" ", "_")] += value

    by_group_jobs = defaultdict(list)
    for job in jobs.values():
        if job["group"] is not None and "end" in job:
            by_group_jobs[job["group"]].append((job["start"], job["end"]))
    out = {}
    for name, intervals in spans.items():
        s = per.get(name, {})
        wall = sum(b - a for a, b in intervals)
        job_iv = by_group_jobs.get(name, [])
        covered = sum(
            _covered_ms([(max(a, s0), min(b, s1)) for a, b in job_iv if b > s0 and a < s1])
            for s0, s1 in intervals
        )
        job_wall = sum(b - a for a, b in job_iv)
        out[name] = {
            **{k: float(v) for k, v in s.items()},
            "calls": len(intervals),
            "wall_ms": wall,
            "driver_ms": wall - covered,
            "jobs": float(s.get("jobs", 0)),
            "slot_idle_ms": job_wall * cores - s.get("task_run_ms", 0.0),
        }
    return {"spans": out, "app": dict(app)}
