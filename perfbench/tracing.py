"""In-memory spans around calls into the engine, and Spark counters from a
local event log attributed to those spans.

A span records (name, parent, start, end). While a span is open, every
Spark job the driver starts carries the span's id as its job group, so the
event log's task metrics can be summed per span afterwards. Spans are
opened by the benchmark itself or by wrappers it installs over public
engine functions at each import site (a module that did ``from x import
f`` holds its own reference, so ``x.f`` alone is not enough).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.captured: dict[str, list] = {}
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "t0": time.perf_counter(), "t1": None}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self._set_group(f"span-{sid}")
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self._set_group(prev)

    def _set_group(self, group):
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    def wrap(self, owner, attr: str, name, capture: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        (a string, or a function of the call's arguments returning one)
        around each call and, with ``capture``, keeps the return value in
        ``self.captured[name]``. ``restore`` undoes every wrap."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            with self.span(span_name):
                out = orig(*args, **kwargs)
            if capture:
                self.captured.setdefault(span_name, []).append(out)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span's duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged; children are clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        end = s["t0"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, end), min(b, s["t1"])
            if b > a:
                covered += b - a
                end = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["t1"] - s["t0"] - covered)
    return out


def total_times(spans: list[dict]) -> dict[str, float]:
    """Inclusive seconds per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (s["t1"] - s["t0"])
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a plain-JSON, single-file local event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


# task accumulables of the Python evaluation nodes (Spark 4.1's
# pythonBootTime / pythonTotalTime / pythonDataSent / pythonDataReceived)
_PY_ACCUMS = {
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to run Python workers": ("python_total_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1.0),
    "data returned from Python workers": ("python_bytes_received", 1.0),
}
COUNTERS = (
    "executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_write_bytes",
    "spill_bytes", "broadcast_bytes", "tasks", "task_failures",
    "task_max_over_p50", "python_boot_s", "python_total_s",
    "python_bytes_sent", "python_bytes_received",
)


def spark_counters(events: list[dict], groups=None) -> dict[str, float]:
    """Spark counters summed over the jobs whose job group is in
    ``groups`` (all jobs when None). ``task_max_over_p50`` is the
    slowest task over the median task of the stage with the most
    executor run time (the stage that sets the wall time)."""
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    metric_ids: dict[int, tuple[str, str]] = {}

    def walk(plan):
        for m in plan.get("metrics", []):
            metric_ids[m["accumulatorId"]] = (plan["nodeName"], m["name"])
        for c in plan.get("children", []):
            walk(c)

    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            for st in e.get("Stage IDs", []):
                stage_group[st] = g
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            walk(e["sparkPlanInfo"])

    def wanted(g):
        return groups is None or g in groups

    out = dict.fromkeys(COUNTERS, 0.0)
    stage_runs: dict[int, list[float]] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerTaskEnd":
            if not wanted(stage_group.get(e["Stage ID"])):
                continue
            out["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                out["task_failures"] += 1
            tm = e.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            stage_runs.setdefault(e["Stage ID"], []).append(run_ms / 1e3)
            out["executor_run_s"] += run_ms / 1e3
            out["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            out["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            out["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                hit = _PY_ACCUMS.get(acc.get("Name"))
                if hit and acc.get("Update") is not None:
                    out[hit[0]] += float(acc["Update"]) * hit[1]
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            if not wanted(exec_group.get(e["executionId"])):
                continue
            for acc_id, value in e["accumUpdates"]:
                if metric_ids.get(acc_id) == ("BroadcastExchange", "data size"):
                    out["broadcast_bytes"] += value
    if stage_runs:
        runs = max(stage_runs.values(), key=sum)
        med = statistics.median(runs)
        out["task_max_over_p50"] = max(runs) / med if med > 0 else 1.0
    return out
