"""Spans and Spark event-log counters for the traced run.

A span is one timed call into the engine: name, layer, start, end,
parent span and pass. With tracing on, each span also tags the Spark
jobs it launches through two thread-local properties (the job
description and ``perfbench.layer``), so the event log can attribute
task metrics to layers afterwards. The job *group* is left alone: the
registry detects impure builds by counting jobs outside any group, and
tagging a group would make it cache them.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

LAYER_PROP = "perfbench.layer"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self.pass_id: str | None = None
        self.sc = None  # SparkContext of the live application

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t = time.perf_counter()
        rec = {
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
        }
        if self.enabled and self.sc is not None:
            self.sc.setLocalProperty(LAYER_PROP, layer)
            self.sc.setJobDescription(name)
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        self.overhead_s += time.perf_counter() - t
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            if self.enabled and self.sc is not None:
                outer = self.spans[self._stack[-1]] if self._stack else None
                self.sc.setLocalProperty(LAYER_PROP, outer["layer"] if outer else None)
                self.sc.setJobDescription(outer["name"] if outer else None)
            self.overhead_s += time.perf_counter() - t

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _lines(root: str, names: list[str]):
    for name in names:
        with open(os.path.join(root, name)) as f:
            yield from f


def layer_counters(event_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per layer over every event log in ``event_dir``.

    A stage belongs to the layer of the first job that lists it. Jobs
    outside any span carry no layer tag and are skipped; warm-up and
    check jobs get buckets of their own, which are not reported."""
    out: dict[str, dict[str, float]] = {}

    def bucket(layer: str) -> dict[str, float]:
        return out.setdefault(
            layer,
            {
                "jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "sched_delay_s": 0.0,
                "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            },
        )

    # Spark writes one directory per application (eventlog_v2_<app>),
    # holding numbered event files events_<n>_<app>
    for root, _dirs, files in sorted(os.walk(event_dir)):
        parts = sorted(
            (f for f in files if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        stage_layer: dict[int, str] = {}
        for line in _lines(root, parts):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                layer = (ev.get("Properties") or {}).get(LAYER_PROP)
                if not layer:
                    continue
                bucket(layer)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if layer is None or not tm:
                    continue
                ti = ev["Task Info"]
                b = bucket(layer)
                b["tasks"] += 1
                b["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                b["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                duration = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                busy = (
                    tm.get("Executor Run Time", 0)
                    + tm.get("Executor Deserialize Time", 0)
                    + tm.get("Result Serialization Time", 0)
                )
                b["sched_delay_s"] += max(0, duration - busy) / 1e3
    return out
