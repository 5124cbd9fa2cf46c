"""Spans around the benchmark's calls into the engine, and their Spark cost.

A ``Tracer`` records spans in memory (name, start, end, parent) and, while a
span is open, tags every Spark job the calling thread submits with the
span's name as its job group. After the session stops, ``reduce_event_log``
reads the offline Spark event log and sums task metrics per job group, so
each span gets its wall time plus the executor time, shuffle, spill and
failed tasks of the jobs it caused.

Spark evaluates lazily, so a span only owns work if the frame it builds is
materialized inside it. ``Tracer.materialize`` does that (persist + count);
the extra persist is part of the tracing overhead the traced run reports.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, kind: str = "timeline"):
        """``kind`` is ``timeline`` for a step of the traced job, ``probe``
        for a separate call that measures a layer reachable only inside a
        composite, or ``setup``."""
        parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"name": name, "parent": parent, "kind": kind, "start": t0, "end": t1}
            )
            if sc is not None:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(parent, parent)

    @staticmethod
    def materialize(df):
        """Persist and count ``df`` so its work lands in the open span."""
        df = df.persist()
        df.count()
        return df

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self, kind: str = "timeline") -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["kind"] != kind:
                continue
            child = sum(
                c["end"] - c["start"]
                for c in self.spans
                if c["parent"] == s["name"] and s["start"] <= c["start"] <= s["end"]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child
        return out


def reduce_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: summed executor run time (s), shuffle bytes written
    (MB), bytes spilled to disk (MB), task count and failed tasks, from
    every Spark event log in ``log_dir``."""
    stage_group: dict[tuple[str, int], str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(path, sid)] = group or "untagged"
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((path, ev["Stage ID"]), "untagged")
                    agg = out.setdefault(
                        group,
                        {"task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                         "tasks": 0, "failed_tasks": 0},
                    )
                    agg["tasks"] += 1
                    info = ev.get("Task Info", {})
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    if info.get("Failed") or reason != "Success":
                        agg["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    agg["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    agg["shuffle_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
                    )
                    agg["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    return out
