"""The benchmark's workloads.  Each module exposes ``run(ctx) ->
Result`` and drives the engine only through its public functions."""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from perfbench.procinfo import log
from perfbench.spans import Tracer

#: set-up repetitions per run; ``setup_s`` reports their median
SETUP_REPS = 3


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    scale: str  # "full" or "tiny" (the benchmark's own smoke tests)
    work: str  # scratch directory for this run's data
    n_cpu: int
    _cached: list = field(default_factory=list)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def materialize(self, df):
        """Traced runs persist and count a layer's output inside the
        layer's span, so the span times the work and not only the plan
        building; untraced runs keep the fused plan.  Returns
        ``(df, rows)`` with ``rows`` None when untraced."""
        if not self.traced:
            return df, None
        df = df.persist()
        self._cached.append(df)
        return df, df.count()

    def release(self) -> None:
        """Unpersist what :meth:`materialize` cached."""
        while self._cached:
            self._cached.pop().unpersist()


@dataclass
class Result:
    """What a workload measured.  ``op_ms``: latency of each measured
    primary operation; ``items``: work items the measured operations
    completed while busy for ``busy_s`` seconds; ``setup_reps_s``: each
    set-up repetition; ``detail``: the workload's named end-to-end
    figures; ``layer``: derived per-layer figures (traced runs)."""

    attempted: int = 0
    failed: int = 0
    op_ms: list = field(default_factory=list)
    items: int = 0
    busy_s: float = 0.0
    setup_reps_s: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def setup_median(self) -> float:
        return statistics.median(self.setup_reps_s)


class Deadline:
    """The measured window: ``--seconds`` from the first operation."""

    def __init__(self, seconds: float):
        self.end = time.perf_counter() + seconds

    def open(self) -> bool:
        return time.perf_counter() < self.end


def attempt(res: Result, fn, *args):
    """Run one checked operation: ``fn`` returns True when its answer
    was right.  An exception or a wrong answer counts as failed."""
    res.attempted += 1
    try:
        ok = fn(*args)
    except Exception:
        log(traceback.format_exc())
        ok = False
    if not ok:
        res.failed += 1
    return ok

