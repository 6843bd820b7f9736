"""Spans and per-job attribution for the traced run.

``Tracer`` keeps spans (id, name, parent, start, end) in memory and
writes them out when the run ends; ``NullTracer`` is its no-op twin for
untraced runs. ``EventLog`` reads Spark's local event log after the
session stops and attributes jobs, stages, tasks and task metrics to the
job group each benchmark operation ran under.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its child spans
        cover (children of one span never overlap: the loop is serial)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed, single-file local event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class GroupStats:
    jobs: int = 0
    build_jobs: int = 0
    stages: int = 0
    one_task_stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class EventLog:
    """Per job group totals from every event log file in a directory.

    ``build_end_ms`` maps a group to the wall-clock time (epoch ms) its
    query builder returned; jobs submitted before it count as
    ``build_jobs``, the eager actions a builder runs before ``collect``.
    """

    def __init__(self, log_dir: str, build_end_ms: dict[str, float]):
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        stage_group: dict[tuple[str, int], str] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            app = os.path.basename(path)
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        group = props.get("spark.jobGroup.id")
                        if group is None:
                            continue
                        g = self.groups[group]
                        g.jobs += 1
                        end = build_end_ms.get(group)
                        if end is not None and ev["Submission Time"] < end:
                            g.build_jobs += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault((app, sid), group)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        group = stage_group.get((app, info["Stage ID"]))
                        if group is None:
                            continue
                        g = self.groups[group]
                        g.stages += 1
                        if info.get("Number of Tasks") == 1:
                            g.one_task_stages += 1
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get((app, ev["Stage ID"]))
                        m = ev.get("Task Metrics")
                        if group is None or not m:
                            continue
                        g = self.groups[group]
                        g.tasks += 1
                        g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                        g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                        g.gc_s += m.get("JVM GC Time", 0) / 1e3
                        g.shuffle_write_bytes += (
                            m.get("Shuffle Write Metrics") or {}
                        ).get("Shuffle Bytes Written", 0)
                        g.spill_bytes += m.get("Disk Bytes Spilled", 0)
