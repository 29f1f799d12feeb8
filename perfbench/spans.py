"""Span tracing for the benchmark's traced runs.

A span records a layer boundary crossed by the benchmark: name, start,
end, parent span and the timed operation it belongs to. Each span sets a
Spark job group while it is the innermost open span, so the status
tracker attributes every job (and its tasks) to the span that
launched it. Spans stay in memory and are written out once, at exit.

``NullTracer`` is what untraced runs use: every method is a no-op, so the
end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict


class NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext(None)

    def operation(self, kind: str):
        return contextlib.nullcontext(None)


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc, clock: "CpuClock"):
        self.sc = sc
        self.clock = clock
        # wall, JVM CPU and driver CPU seconds summed over timed operations
        self.op_wall_s = self.op_jvm_s = self.op_driver_s = 0.0
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._op: int | None = None
        self._ops = 0
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def operation(self, kind: str):
        """A timed operation; its spans share one operation id."""
        self._ops += 1
        prev, self._op = self._op, self._ops
        jvm, driver, wall = self.clock.jvm_s(), self.clock.driver_s(), time.perf_counter()
        try:
            with self.span(f"op.{kind}") as rec:
                yield rec
        finally:
            self._op = prev
            self.op_wall_s += time.perf_counter() - wall
            self.op_jvm_s += self.clock.jvm_s() - jvm
            self.op_driver_s += self.clock.driver_s() - driver

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "op": self._op,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._attribute_jobs(rec, group)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def _attribute_jobs(self, rec: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        rec.update(jobs=len(jobs), tasks=tasks)

    def count(self, name: str, value: float) -> None:
        """Add to a counter; only work inside a timed operation counts."""
        if self._op is not None:
            self.counters[name] += value

    # --- derived views -----------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def subtree_jobs(self) -> dict[int, int]:
        """Span id -> jobs launched by the span and its descendants."""
        total = {s["id"]: s["jobs"] for s in self.spans}
        for s in reversed(self.spans):  # children are recorded after parents
            if s["parent"] is not None:
                total[s["parent"]] += total[s["id"]]
        return total

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": dict(self.counters)}, f)


def wrap(tracer: NullTracer, owner, attr: str, name: str, before=None, after=None):
    """Replace ``owner.attr`` by a wrapper that opens span *name* around
    each call. *before(args, kwargs)* returns a state object handed to
    *after(state, args, result)* once the call returns; both run inside
    the span."""
    original = getattr(owner, attr)

    @functools.wraps(original)
    def traced(*args, **kwargs):
        with tracer.span(name):
            state = before(args, kwargs) if before else None
            result = original(*args, **kwargs)
            if after:
                after(state, args, result)
            return result

    setattr(owner, attr, traced)


class CpuClock:
    """CPU seconds of the driver (this process) and of the Spark JVM,
    read from /proc/<pid>/stat (utime + stime, plus reaped children)."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self._tick = os.sysconf("SC_CLK_TCK")

    def jvm_s(self) -> float:
        if self.jvm_pid is None:
            return 0.0
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # fields[0] is the state (field 3); utime..cstime are fields 14..17
        return sum(int(x) for x in fields[11:15]) / self._tick

    @staticmethod
    def driver_s() -> float:
        t = os.times()
        return t.user + t.system
