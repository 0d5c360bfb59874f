"""Spans around the program's public calls, for the traced run.

The benchmark installs wrappers from its own code; nothing inside the
package changes. Each span records (name, start, end, parent, op) and
runs its Spark jobs under its own job group, so the jobs a span caused
are read back from ``statusTracker`` when it ends. Stage metrics
(shuffle bytes, spill, task time) come from Spark's event log, parsed
after the last session stops. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    app: str = ""
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; wrappers cost one check when not."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    # -- spans ---------------------------------------------------------------

    def _sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, span: Span | None) -> None:
        sc = self._sc()
        if sc is not None:
            gid = f"perfbench-{span.sid}" if span else "perfbench-idle"
            sc.setJobGroup(gid, span.name if span else "idle")

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = Span(sid, name, parent.sid if parent else None,
                    parent.op if parent else sid, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        sc = self._sc()
        if sc is not None:
            span.app = sc.applicationId
            span.jobs = list(sc.statusTracker().getJobIdsForGroup(f"perfbench-{span.sid}"))
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str):
        span = self.begin(name)
        try:
            yield span
        finally:
            self.end(span)

    def wrap(self, fn, name: str, after=None):
        """``fn`` recording a span ``name``; ``after(span, args, result)``
        may add counts to the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self.begin(name)
            try:
                result = fn(*args, **kwargs)
                if span is not None and after is not None:
                    after(span, args, kwargs, result)
                return result
            finally:
                self.end(span)

        return wrapper

    # -- installation -----------------------------------------------------------

    def patch_function(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` and every package module's imported
        reference to the same function object."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name, after)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("northwind_warehouse_spark"):
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, wrapped)

    def patch_method(self, cls, attr: str, name: str, after=None) -> None:
        setattr(cls, attr, self.wrap(getattr(cls, attr), name, after))

    # -- reduction ---------------------------------------------------------------

    def ops(self) -> list[Span]:
        """Finished top-level operation spans."""
        return [s for s in self.spans if s.parent is None and s.name == "op" and s.end]

    def within(self, op: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.op == op.sid and s.name == name and s is not op]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def event_log_stages(log_dir: str) -> dict[tuple[str, int], dict]:
    """Per (application, job id): task time, shuffle-write and spill bytes,
    stage and task counts, from every event log in ``log_dir``."""
    out: dict[tuple[str, int], dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        app = os.path.basename(path).split(".")[0]
        stage_job: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    out[(app, jid)] = defaultdict(float)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    jid = stage_job.get(info["Stage ID"])
                    if jid is not None and "Submission Time" in info:
                        out[(app, jid)]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    rec = out[(app, jid)]
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    rec["task_ms"] += ti["Finish Time"] - ti["Launch Time"]
                    rec["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
