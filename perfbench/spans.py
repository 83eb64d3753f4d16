"""Spans, self times and Spark event-log attribution for the traced run.

Spans are kept in memory (name, start, end, parent, thread) and written as
JSON when the run ends. A span opened with ``group=True`` also tags every
Spark job its thread submits with the job group ``<name>#<span id>``, so the
event log's task metrics can be attributed to the layer whose span encloses
the action that ran them.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._root: int | None = None
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, group: bool = False, root: bool = False):
        """Record one span. ``root=True`` makes it the parent of spans opened
        by threads that have no open span of their own (the pipeline's
        worker threads); ``group=True`` tags the thread's Spark jobs."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._root
        sid = next(self._ids)
        prev_group = self._sc.getLocalProperty(_GROUP_KEY) if group else None
        if group:
            self._sc.setLocalProperty(_GROUP_KEY, f"{name}#{sid}")
        if root:
            self._root = sid
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if root:
                self._root = parent
            if group:
                self._sc.setLocalProperty(_GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "parent": parent,
                    "thread": threading.current_thread().name,
                    "start": start, "end": end,
                    "group": f"{name}#{sid}" if group else None,
                })

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def finished(self) -> list[dict]:
        """Spans sorted by start, each with duration and self time (its
        duration minus the part of it covered by its child spans)."""
        with self._lock:
            spans = sorted(self.spans, key=lambda s: s["start"])
        children: dict[int, list[dict]] = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)
        out = []
        for s in spans:
            dur = s["end"] - s["start"]
            covered = covered_seconds(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
                s["start"], s["end"],
            )
            out.append({**s, "duration_s": dur, "self_s": dur - covered})
        return out

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.finished(), indent=1))


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_file(log_dir: Path, app_id: str) -> Path:
    """The session's event log (``<app id>`` or ``<app id>.inprogress``).
    Spark flushes it at every job end, so it is complete for finished jobs
    while the session is still running."""
    for p in sorted(log_dir.iterdir()):
        if p.name.startswith(app_id):
            return p
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def layer_stats(log: Path, group_layer: dict[str, str]) -> dict[str, dict]:
    """Per layer: jobs, shuffle-write MB, spill MB, GC seconds and task skew,
    from the tasks of every stage first run by a job in one of the layer's
    job groups. Task skew is the sum over stages of the slowest task's time
    over the sum over stages of the median task's time (1.0 = no skew)."""
    stage_layer: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[tuple[str, int], list[float]] = {}
    acc: dict[str, dict] = {}
    with log.open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                layer = group_layer.get(
                    (ev.get("Properties") or {}).get(_GROUP_KEY)
                )
                if layer is None:
                    continue
                jobs[layer] = jobs.get(layer, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if layer is None or not m:
                    continue
                a = acc.setdefault(
                    layer, {"shuffle_write": 0, "spill": 0, "gc_ms": 0}
                )
                a["shuffle_write"] += (
                    m.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0)
                )
                a["spill"] += (
                    m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0)
                )
                a["gc_ms"] += m.get("JVM GC Time", 0)
                info = ev.get("Task Info", {})
                tasks.setdefault((layer, ev["Stage ID"]), []).append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )
    skew_max: dict[str, float] = {}
    skew_med: dict[str, float] = {}
    for (layer, _), times in tasks.items():
        times.sort()
        skew_max[layer] = skew_max.get(layer, 0.0) + times[-1]
        skew_med[layer] = skew_med.get(layer, 0.0) + times[len(times) // 2]
    out = {}
    for layer in set(group_layer.values()):
        a = acc.get(layer, {"shuffle_write": 0, "spill": 0, "gc_ms": 0})
        med = skew_med.get(layer, 0.0)
        out[layer] = {
            "jobs": jobs.get(layer, 0),
            "shuffle_write_mb": a["shuffle_write"] / 2**20,
            "spill_mb": a["spill"] / 2**20,
            "gc_s": a["gc_ms"] / 1000.0,
            "task_skew": skew_max.get(layer, 0.0) / med if med else 1.0,
        }
    return out
