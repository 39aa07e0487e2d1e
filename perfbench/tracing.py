"""Spans around the benchmark's calls into the package, and the Spark
event-log reader that splits each span's wall into engine work.

Nothing inside the package is instrumented: spans start and end in the
benchmark's own files, and engine counters come from the event log that
the traced run enables at launch. Spans name Spark job groups, so every
job a span submits is attributed to it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

# benchmark spans that the event log splits into engine work
ENGINE_SPANS = ("build", "serve.request", "serve.batch",
                "lifecycle.append", "lifecycle.compact", "operators")
ENGINE_FIELDS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                 "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                 "slot_busy_ratio", "driver_s")


class Tracer:
    """Spans (name, start, end, parent, request id) kept in memory.

    Disabled, `span` tags the Spark job group and keeps nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, request_id: int | None = None):
        """Time one call; an outermost span also names the Spark job group
        (the text before any ':'), so the event log attributes its jobs."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        outermost = not self._stack
        if outermost:
            sc.setJobGroup(name.split(":")[0], name)
        rec = {"name": name, "parent": parent, "request_id": request_id,
               "start": time.time()}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if outermost:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if not self.enabled and outermost:
                self.spans.clear()

    def wall(self, group: str) -> list[tuple[float, float]]:
        """(start, end) of the outermost spans of a job group."""
        out = []
        for s in self.spans:
            if s["name"].split(":")[0] != group:
                continue
            parent = s["parent"]
            if parent is not None and \
                    self.spans[parent]["name"].split(":")[0] == group:
                continue
            out.append((s["start"], s["end"]))
        return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


def _clip(intervals, windows):
    out = []
    for s, e in intervals:
        for ws, we in windows:
            lo, hi = max(s, ws), min(e, we)
            if hi > lo:
                out.append((lo, hi))
    return out


def engine_metrics(event_log_dir: str, tracer: Tracer,
                   cores: int) -> dict[str, float]:
    """Per engine span: jobs, tasks, executor run/CPU/GC seconds, shuffle
    and spill bytes, slot busy ratio (executor run time over wall x cores)
    and driver seconds (span wall not covered by any of its jobs)."""
    stage_group: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    acc = {g: dict.fromkeys(ENGINE_FIELDS, 0.0) for g in ENGINE_SPANS}
    # Spark 4 writes each application's log as a directory of event files
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_log_dir)
                   for f in fs if not f.startswith(("appstatus", ".")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {"group": group,
                                          "start": ev["Submission Time"]}
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group not in acc:
                        continue
                    m = ev.get("Task Metrics") or {}
                    a = acc[group]
                    a["tasks"] += 1
                    a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
    out: dict[str, float] = {}
    for group in ENGINE_SPANS:
        a = acc[group]
        windows = tracer.wall(group)
        wall = sum(e - s for s, e in windows)
        job_iv = [(j["start"] / 1e3, j["end"] / 1e3) for j in jobs.values()
                  if j["group"] == group and "end" in j]
        a["jobs"] = float(len(job_iv))
        a["driver_s"] = max(0.0, wall - _union_s(_clip(job_iv, windows)))
        a["slot_busy_ratio"] = (a["executor_run_s"] / (wall * cores)
                                if wall else 0.0)
        for f in ENGINE_FIELDS:
            out[f"spark.{group}.{f}"] = a[f]
    return out
