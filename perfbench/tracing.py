"""Spans around calls into the program's layers, and a roll-up of Spark's
own event log onto them.

A span is one call into a layer's public function: its name, start and
end (epoch seconds) and the span open around it. Spans stay in memory
until ``Tracer.write``. Every span sets a Spark job group named after it,
so the event log (``spark.eventLog.enabled``, uncompressed) attributes
each job, and through the job each stage and task, to the span that ran
it. Tasks of a stage count once, for the first job that listed the stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# per-span metrics: (suffix, unit, better)
SPAN_METRICS = (
    ("wall_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._open.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(parent, parent)
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent}
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _read_events(event_dir: str) -> list[dict]:
    files = [
        p for p in glob.glob(os.path.join(event_dir, "*"))
        if not p.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def rollup(event_dir: str, spans: list[dict], skew_spans=()) -> dict:
    """{span name: {metric: value}} summed over every span of that name.
    ``skew_spans`` also get ``skew``: max over median task run time in the
    span's heaviest stage (by summed task run time)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _read_events(event_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": m.get("Disk Bytes Spilled", 0),
                }
            )
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    out: dict[str, dict] = {}
    for name, group_spans in by_name.items():
        wall = sum(s["end"] - s["start"] for s in group_spans)
        job_ids = [j for j, v in jobs.items() if v["group"] == name]
        busy = []
        for j in job_ids:
            js, je = jobs[j]["start"], jobs[j]["end"] or jobs[j]["start"]
            for s in group_spans:
                lo, hi = max(js, s["start"]), min(je, s["end"])
                if hi > lo:
                    busy.append((lo, hi))
        stages = [sid for sid, j in stage_job.items() if j in job_ids]
        span_tasks = [t for sid in stages for t in tasks.get(sid, [])]
        row = {
            "wall_s": wall,
            "driver_s": max(0.0, wall - _union_length(busy)),
            "jobs": len(job_ids),
            "task_cpu_s": sum(t["cpu_ns"] for t in span_tasks) / 1e9,
            "shuffle_write_mb": sum(t["shuffle_w"] for t in span_tasks) / 1e6,
            "spill_mb": sum(t["spill"] for t in span_tasks) / 1e6,
        }
        if name in skew_spans:
            heavy = max(
                (tasks.get(sid, []) for sid in stages),
                key=lambda ts: sum(t["run_ms"] for t in ts),
                default=[],
            )
            runs = [t["run_ms"] for t in heavy]
            row["skew"] = (
                max(runs) / max(1.0, statistics.median(runs)) if runs else 0.0
            )
        out[name] = row
    return out
