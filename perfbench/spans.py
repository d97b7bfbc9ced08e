"""In-memory spans for the traced run, and Spark counters from the event log.

Spans are recorded only from the benchmark's own files: around the calls
it makes into the engine, and around engine-instance methods it wraps
with :meth:`Tracer.wrap` (an attribute set on that one object; no module
is patched).  A span has a name, start, end, parent and query id.  Self
time is a span's duration minus the part of it that its children cover.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "qid")

    def __init__(self, name, start, end, parent, qid):
        self.name, self.start, self.end = name, start, end
        self.parent, self.qid = parent, qid

    def as_dict(self) -> dict:
        return {
            "name": self.name, "start": self.start, "end": self.end,
            "parent": self.parent, "qid": self.qid,
        }


class Tracer:
    """Records spans and counters when ``enabled``; otherwise every call
    is a no-op and :meth:`wrap` installs nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self.counts: dict = defaultdict(float)
        self.qid = None
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), None, parent, self.qid)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float) -> None:
        """A child of the open span whose interval is known from elsewhere
        (the build manifest's stage seconds)."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, start, end, parent, self.qid))

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def wrap(self, obj, method: str, name: str, before=None, after=None) -> None:
        """Time ``obj.method`` as span ``name``.  ``before(args)`` runs
        ahead of the call and its result is handed to
        ``after(state, args, result)``; both run inside the span."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                state = before(args) if before else None
                out = inner(*args, **kwargs)
                if after:
                    after(state, args, out)
                return out

        setattr(obj, method, traced)


def self_times(spans: list) -> list:
    """Per span: duration minus the union of its children's intervals
    (clipped to the span)."""
    kids = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids[s.parent].append(i)
    out = []
    for i, s in enumerate(spans):
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(
            (max(spans[c].start, s.start), min(spans[c].end, s.end)) for c in kids[i]
        ):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append((s.end - s.start) - covered)
    return out


def span_sum_error(spans: list, names, clock_s: float) -> float:
    """Gap between ``clock_s``, the caller's own ``perf_counter`` total
    around the measured calls, and the summed durations of the root spans
    named in ``names`` (one per such call).  Each root span lies inside the
    caller's timing, so the gap is the cost of opening and closing those
    spans; a call left out of the spans, or timed twice, shows as a gap of
    its whole duration."""
    traced = sum(s.end - s.start for s in spans if s.parent is None and s.name in names)
    return abs(clock_s - traced)


def calibrate(n: int = 20000) -> float:
    """Seconds one span costs the traced process (bookkeeping only)."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


# -- Spark event log -------------------------------------------------------

PHASES = (
    "docs", "tf", "meta", "postings", "term_stats",
    "append", "compact", "fetch", "distributed",
)
_BUILD_STAGES = ("docs", "tf", "postings", "term_stats")
_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\nInput: \[\]\nArguments: file:(\S+?),"
)


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith((".", "appstatus")):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def spark_phase_metrics(log_dir: str) -> dict:
    """Per-phase task counters from the event log: shuffle bytes written
    and read, bytes spilled, GC seconds, tasks, and task skew (max over
    the phase's stages of max / median task run time).

    The phase is the job group the benchmark set around the call, except
    inside group ``build``: a job that writes ``<index>/<stage>`` belongs
    to that build stage, other SQL jobs (the corpus-statistics pass) to
    ``meta``, and jobs outside SQL (file listing) to the stage last
    written."""
    exec_phase, stage_phase, task_ms = {}, {}, defaultdict(list)
    acc = {p: defaultdict(float) for p in PHASES}
    last_build = "docs"
    for e in _events(log_dir):
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            m = _WRITE_TARGET.search(e.get("physicalPlanDescription", ""))
            target = os.path.basename(m.group(1).rstrip("/")) if m else None
            exec_phase[e["executionId"]] = target if target in _BUILD_STAGES else "meta"
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            phase = props.get("spark.jobGroup.id")
            if phase == "build":
                ex = props.get("spark.sql.execution.id")
                phase = exec_phase.get(int(ex)) if ex is not None else last_build
                if phase in _BUILD_STAGES:
                    last_build = phase
            for sid in e["Stage IDs"]:
                stage_phase[sid] = phase
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if phase not in acc or not tm:
                continue
            a = acc[phase]
            a["tasks"] += 1
            a["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            a["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            w = tm.get("Shuffle Write Metrics") or {}
            a["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
            r = tm.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            task_ms[(phase, e["Stage ID"])].append(tm.get("Executor Run Time", 0))
    for (phase, _), ms in task_ms.items():
        ms.sort()
        mid = ms[len(ms) // 2]
        if len(ms) > 1 and mid > 0:
            acc[phase]["task_skew"] = max(acc[phase]["task_skew"], ms[-1] / mid)
    keys = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_skew", "gc_s", "tasks")
    return {f"spark.{p}.{k}": float(acc[p][k]) for p in PHASES for k in keys}
