"""Spans around the benchmark's calls into each engine layer.

A span has a name, start, end, parent span and trace id (one trace per
measured operation).  Spans are kept in memory and written out when
the run ends.  With tracing off, :meth:`Tracer.span` records nothing,
so the untraced run pays only a context-manager enter/exit per call.

In a traced run each span also tags the Spark jobs it launches with
its own job group (``SparkContext.setJobGroup``) and, when it closes,
reads the scheduler counters of those jobs from the status store.  A
job is attributed to the innermost open span of the thread that ran
it, so counters are self counters.  They are read at span close
because the status store keeps only ``spark.ui.retainedJobs`` jobs.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

#: per-span scheduler counters (name → unit); ``_s`` counters are seconds
COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "input_bytes",
    "input_records",
    "shuffle_bytes",
    "executor_cpu_s",
    "gc_s",
)


def layer_of(span_name: str) -> str:
    """Layer a span belongs to: ``functions.embed`` keeps both parts,
    every other name its first dotted part."""
    if span_name.startswith("functions."):
        return ".".join(span_name.split(".")[:2])
    return span_name.split(".")[0]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time: the span's duration minus the part of its
    interval that its child spans cover (overlapping children are
    counted once; child time outside the parent is ignored)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Sum of span self times per layer (see :func:`layer_of`)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out


class SparkCounters:
    """Reads per-job-group scheduler counters from the status store."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()

    def read(self, group: str, seen: set | None = None) -> dict:
        """Counters of the jobs in ``group`` (skipping job ids in
        ``seen``, which is updated)."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for j in self._sc.statusTracker().getJobIdsForGroup(group):
            if seen is not None:
                if j in seen:
                    continue
                seen.add(j)
            job = store.job(j)
            out["jobs"] += 1
            out["tasks"] += job.numCompletedTasks()
            out["failed_tasks"] += job.numFailedTasks()
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # stage skipped or evicted: no metrics
                    continue
                out["input_bytes"] += st.inputBytes()
                out["input_records"] += st.inputRecords()
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
        return out


class Tracer:
    """In-memory span recorder.  With a SparkContext ``sc`` each span
    also records its jobs' scheduler counters; without one, timing
    only.  ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = sc if enabled else None
        self.counters = SparkCounters(sc) if self._sc is not None else None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.t0 = time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block.  A span opened with no
        enclosing span starts a new trace."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "attrs": dict(attrs),
        }
        group = f"span-{sid}"
        prev_group = None
        if self._sc is not None:
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(group, name, False)
        stack.append(rec)
        rec["start"] = self.now()
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            stack.pop()
            if self._sc is not None:
                if prev_group is not None:
                    self._sc.setJobGroup(prev_group, "", False)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            if self.counters is not None:
                rec["counters"] = self.counters.read(group)
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, counters: dict | None = None,
            **attrs) -> None:
        """Record a root span measured elsewhere (e.g. a streaming
        micro-batch whose start is known only from the query's progress
        report)."""
        if not self.enabled:
            return
        with self._lock:
            sid = next(self._ids)
            self.spans.append({
                "id": sid, "name": name, "parent": None, "trace": sid,
                "start": start, "end": end, "attrs": dict(attrs),
                "counters": counters or dict.fromkeys(COUNTERS, 0),
            })

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict | None = None) -> None:
        """Write all spans, the per-layer self-time summary and
        ``extra`` as one JSON document."""
        doc = {
            "spans": sorted(self.spans, key=lambda s: s["start"]),
            "self_time_by_layer_s": self_time_by_layer(self.spans),
        }
        doc.update(extra or {})
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)
