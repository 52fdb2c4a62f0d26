"""Layer spans around calls into kgspark, and the event-log attribution.

A span tags the Spark jobs it launches with a job group
``kgbench/<span id>``. Spans nest; a job belongs to the innermost open
span, so every job of a measured run falls in exactly one span. After
the session stops, :func:`layer_report` reads the uncompressed Spark
event log and gives, per layer and per measured run:

* ``wall_s``   self time: span time not covered by child spans
* ``jobs``     jobs launched in the span
* ``idle_s``   self time during which no Spark job was running
* ``exec_cpu_s``        executor CPU time of the span's tasks
* ``shuffle_write_mb``  shuffle bytes written by the span's tasks
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

GROUP_PREFIX = "kgbench/"
FIELDS = {"wall_s": "s", "jobs": "count", "idle_s": "s", "exec_cpu_s": "s",
          "shuffle_write_mb": "MB"}  # per-layer metric → unit


class Tracer:
    """Records spans; a disabled tracer is a no-op (untraced runs)."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run = -1  # measured-run index; -1 = set-up / warm-up

    def _tag(self, rec: dict | None) -> None:
        group = GROUP_PREFIX + str(rec["id"]) if rec else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description",
                                 rec["name"] if rec else None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)


def _read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _self_intervals(span: dict, children: list[dict]) -> list[tuple[float, float]]:
    out, cur = [], span["t0"]
    for c in sorted(children, key=lambda c: c["t0"]):
        if c["t0"] > cur:
            out.append((cur, c["t0"]))
        cur = max(cur, c["t1"])
    if span["t1"] > cur:
        out.append((cur, span["t1"]))
    return out


def layer_report(event_log: str, spans: list[dict],
                 runs: list[tuple[float, float]]) -> dict:
    """→ {"layers": {run: {layer: {field: value}}}, "unattributed_jobs": n}.

    ``runs`` are the (start, end) wall-clock windows of the measured runs;
    a job submitted inside one of them with no span group is counted as
    unattributed."""
    job_group: dict[int, str | None] = {}
    job_iv: dict[int, list[float]] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[tuple[int, float, float]] = []
    for ev in _read_events(event_log):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[jid] = group
            job_iv[jid] = [ev["Submission Time"] / 1e3, None]
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if "spark.jobGroup.id" in props:
                stage_group[ev["Stage Info"]["Stage ID"]] = props["spark.jobGroup.id"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            tasks.append((
                ev["Stage ID"],
                m.get("Executor CPU Time", 0) / 1e9,
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20,
            ))

    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    running = [(a, b) for a, b in job_iv.values() if b is not None]

    def span_of(group: str | None) -> dict | None:
        if group and group.startswith(GROUP_PREFIX):
            return by_id.get(int(group[len(GROUP_PREFIX):]))
        return None

    layers: dict[int, dict[str, dict[str, float]]] = {}

    def cell(s: dict) -> dict[str, float]:
        return layers.setdefault(s["run"], {}).setdefault(
            s["name"], dict.fromkeys(FIELDS, 0.0))

    for s in spans:
        c = cell(s)
        for lo, hi in _self_intervals(s, children.get(s["id"], [])):
            c["wall_s"] += hi - lo
            c["idle_s"] += (hi - lo) - _covered(running, lo, hi)
    unattributed = 0
    for jid, group in job_group.items():
        s = span_of(group)
        if s is not None:
            cell(s)["jobs"] += 1
        elif any(lo <= job_iv[jid][0] <= hi for lo, hi in runs):
            unattributed += 1
    for sid, cpu, shuffle_mb in tasks:
        s = span_of(stage_group.get(sid))
        if s is not None:
            c = cell(s)
            c["exec_cpu_s"] += cpu
            c["shuffle_write_mb"] += shuffle_mb
    return {"layers": layers, "unattributed_jobs": unattributed}
