"""Spans around calls into kgap_spark layers, and event-log aggregation.

Spans are recorded from outside the package: ``install`` replaces a
module or class attribute with a wrapper that opens a span, and
``close`` puts the original back. Each span also sets the Spark job
group, so the jobs a layer launches can be found in the event log and
summed per group (CPU, shuffle, spill, GC, job count).
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; every call is a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]].name
                self.sc.setJobGroup(outer, outer)
            else:
                self.sc.setJobGroup("untraced", "untraced")

    def install(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` so each call is a span named ``name``."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self._span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def close(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def within(self, idx: int, name: str) -> float:
        """Total duration of spans called ``name`` nested under span idx."""
        def under(s: Span) -> bool:
            p = s.parent
            while p is not None:
                if p == idx:
                    return True
                p = self.spans[p].parent
            return False

        return sum(s.dur for s in self.spans if s.name == name and under(s))


EVENT_KEYS = ("cpu_s", "shuffle_bytes", "spill_bytes", "gc_s", "jobs")


def event_log_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics of a finished application's event log per job
    group: executor CPU, shuffle bytes written, disk spill, GC time and
    the number of jobs."""
    # one application per run; Spark 4 writes it as a directory of
    # numbered ``events_*`` files beside an ``appstatus_*`` marker
    files = sorted(
        os.path.join(root, n) for root, _, names in os.walk(log_dir)
        for n in names if not n.startswith(("appstatus", ".")))
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(EVENT_KEYS, 0.0))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                _add_event(json.loads(line), stage_group, out)
    return dict(out)


def _add_event(ev: dict, stage_group: dict[int, str], out) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
        out[group]["jobs"] += 1
        for sid in ev.get("Stage IDs", ()):
            stage_group.setdefault(sid, group)
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics")
        group = stage_group.get(ev.get("Stage ID"))
        if not m or group is None:
            return
        agg = out[group]
        agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        agg["shuffle_bytes"] += (
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
