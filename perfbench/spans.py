"""Spans the benchmark records around its own calls into each layer, and
the parsers that turn Spark's event log and streaming progress into
per-layer counts. Nothing here reaches inside the engine package.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    request: str | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    failed: bool = False

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; a disabled tracer records nothing.

    Spans nest by call order on the single client thread: a span opened
    while another is open is its child and inherits its request id.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(
            len(self.spans),
            parent.id if parent else None,
            request,
            layer,
            name,
            time.perf_counter(),
        )
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        except BaseException:
            s.failed = True
            raise
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.duration - _covered(children[s.id]) for s in spans}


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    layer = {s.id: s.layer for s in spans}
    out: dict[str, float] = defaultdict(float)
    for sid, t in self_times(spans).items():
        out[layer[sid]] += t
    return dict(out)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    failed_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_ms: int = 0
    task_deserialize_ms: int = 0
    gc_ms: int = 0
    task_wall_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: set = field(default_factory=set)

    def add(self, other: "GroupStats") -> None:
        for k, v in other.__dict__.items():
            if k == "stage_ids":
                self.stage_ids |= v
            else:
                setattr(self, k, getattr(self, k) + v)


def _lines(paths):
    for path in paths:
        with open(path) as f:
            yield from f


def parse_event_log(paths: list[str]) -> dict[str, GroupStats]:
    """Job group id -> the jobs, stages and tasks that ran under it.

    ``paths`` are the parts of one uncompressed event log (one JSON event
    per line). Jobs without a group are kept under the empty string."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = g
            groups[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            result = (ev.get("Job Result") or {}).get("Result")
            if result != "JobSucceeded":
                groups[job_group.get(ev["Job ID"], "")].failed_jobs += 1
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            g = groups[stage_group.get(sid, "")]
            g.stages += 1
            g.stage_ids.add(sid)
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.failed_tasks += bool(info.get("Failed") or info.get("Killed"))
            g.task_wall_ms += info.get("Finish Time", 0) - info.get("Launch Time", 0)
            g.task_run_ms += m.get("Executor Run Time", 0)
            g.task_deserialize_ms += m.get("Executor Deserialize Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return dict(groups)


def find_event_log(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of application ``app_id`` under ``log_dir``, in
    order: one file, or the parts of a rolling (v2) log directory."""
    path = os.path.join(log_dir, app_id)
    if os.path.isfile(path):
        return [path]
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = [n for n in os.listdir(rolled) if n.startswith("events_")]
        parts.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(rolled, n) for n in parts]
    raise RuntimeError(f"no event log for {app_id} in {os.listdir(log_dir)}")


# --------------------------------------------------------------------------
# Streaming progress
# --------------------------------------------------------------------------


def progress_dicts(query) -> list[dict]:
    """``StreamingQuery.recentProgress`` as plain dicts."""
    out = []
    for p in query.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out
