"""Layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side: the program's public
layer functions are wrapped after import, and Spark's own status store
and streaming progress events are read between ops. Nothing here
changes what the program computes.
"""

from __future__ import annotations

import functools
import inspect
import pydoc
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PKG = "elt_data4transformation_spark"

# layer name -> module whose public functions are wrapped
LAYER_MODULES = {
    "sources": f"{PKG}.sources.tables",
    "streaming": f"{PKG}.streaming.events",
    "operators.dedup_ops": f"{PKG}.operators.dedup_ops",
    "operators.vectors": f"{PKG}.operators.vectors",
    "operators.upsert": f"{PKG}.operators.upsert",
    "operators.multimodal": f"{PKG}.operators.multimodal",
    "operators.artifacts": f"{PKG}.operators.artifacts",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    result: bool | None = None


class Tracer:
    """Spans kept in memory; one stack of open spans per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)``, inside a span when tracing is on. A
        boolean result is kept on the span (artifact hits and builds)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        span = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, self.op)
        with self._lock:
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            stack.pop()
            span.end = time.perf_counter()
            if isinstance(result, bool):
                span.result = result


class _Traced:
    """Wrapper around one module-level function.

    Pickles as a reference to the original function, so a Spark UDF
    that closes over a wrapped helper ships the plain function to the
    Python workers."""

    def __init__(self, fn, name: str, tracer: Tracer) -> None:
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._name = name
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._name, self._fn, *args, **kwargs)

    def __reduce__(self):
        return (pydoc.locate, (f"{self._fn.__module__}.{self._fn.__qualname__}",))


def instrument(tracer: Tracer) -> None:
    """Wrap the public functions of every layer module, in the defining
    module and in every program module that imported them by name
    (``from ..sources import table`` binds at import time)."""
    wrapped: dict[int, _Traced] = {}
    for layer, modname in LAYER_MODULES.items():
        mod = sys.modules[modname]
        for attr, fn in vars(mod).items():
            if (
                inspect.isfunction(fn)
                and fn.__module__ == modname
                and not attr.startswith("_")
            ):
                wrapped[id(fn)] = _Traced(fn, f"{layer}.{attr}", tracer)
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith(PKG) or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            wrapper = wrapped.get(id(value))
            if wrapper is not None and wrapper._fn is value:
                setattr(mod, attr, wrapper)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


# stage fields read from Spark's status store, summed over an op's stages
STAGE_FIELDS = (
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "jvmGcTime",
    "executorRunTime",
    "numTasks",
    "numFailedTasks",
)


class SparkProbe:
    """Per-op counters from Spark's own status store (populated with the
    UI disabled) and from a streaming-progress listener."""

    def __init__(self, spark, tracer: Tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.progress: list[tuple[int | None, dict]] = []
        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                probe.progress.append((tracer.op, dict(event.progress.durationMs)))

            def onQueryTerminated(self, event) -> None:
                pass

        spark.streams.addListener(_Listener())

    def next_job(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int) -> dict[str, int]:
        """Counters of jobs ``first`` .. ``end - 1``; skipped stages (their
        shuffle output was reused) are not counted."""
        store = self._jsc.statusStore()
        tracker = self._sc.statusTracker()
        stage_ids: set[int] = set()
        for job in range(first, end):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["jobs"] = end - first
        out["stages"] = 0
        for sid in sorted(stage_ids):
            data = store.lastStageAttempt(sid)
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for f in STAGE_FIELDS:
                out[f] += int(getattr(data, f)())
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms of ``df``'s plan. Forces
    ``df``'s own optimization and planning, so call it outside timing."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
