"""Spans, self time, percentiles and Spark counters for the benchmark.

Spans are recorded around the public calls into each layer, from the
benchmark's own files (``Tracer.wrap`` patches a class attribute and
``unwrap_all`` restores it). They stay in memory and are written out as
JSON lines when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass

TAIL_LEVELS = (50.0, 75.0, 90.0, 95.0, 99.0)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int, levels=TAIL_LEVELS) -> float | None:
    """The highest of ``levels`` with at least ten of ``n`` samples
    beyond it, or None when even the median has fewer than ten."""
    ok = [q for q in levels if n * (100.0 - q) >= 1000.0]
    return max(ok) if ok else None


def union_length(intervals, lo: float, hi: float) -> float:
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


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    trace: int
    thread: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    that its children cover. Children that overlap each other (the
    concurrent per-table merges of one sync iteration) count once."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - union_length(kids.get(s.id, ()), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory span recorder. A span's parent is the innermost open
    span of the same thread; a span opened on a thread with no open
    span (a worker of SyncJob's merge pool) is attached to the span
    registered with ``adopt`` — the sync iteration in flight."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._adopt: Span | None = None
        self._patches: list[tuple[type, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str, adopt: bool = False,
             root: bool = False) -> Span:
        """Open a span. ``adopt`` makes it the parent of spans opened on
        threads with no open span; ``root`` starts a new trace instead."""
        stack = self._stack()
        parent = stack[-1] if stack else (None if root else self._adopt)
        sp = Span(
            id=next(self._ids), name=name, layer=layer, start=self.clock(),
            end=None, parent=parent.id if parent else None,
            trace=parent.trace if parent else next(self._traces),
            thread=threading.current_thread().name,
        )
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        if adopt:
            self._adopt = sp
        return sp

    def close(self, sp: Span) -> None:
        sp.end = self.clock()
        stack = self._stack()
        stack.remove(sp)
        if self._adopt is sp:
            self._adopt = None

    def span(self, name: str, layer: str, adopt: bool = False, root: bool = False):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sp = tracer.open(name, layer, adopt, root)
                return self.sp

            def __exit__(self, *exc):
                tracer.close(self.sp)
                return False

        return _Ctx()

    def wrap(self, cls: type, attr: str, layer: str, adopt: bool = False) -> None:
        """Record a span around every call of ``cls.attr``."""
        orig = cls.__dict__[attr]
        name = f"{cls.__name__}.{attr}"

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, layer, adopt):
                return orig(*args, **kwargs)

        setattr(cls, attr, traced)
        self._patches.append((cls, attr, orig))

    def unwrap_all(self) -> None:
        for cls, attr, orig in reversed(self._patches):
            setattr(cls, attr, orig)
        self._patches.clear()

    def finished(self) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.end is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.finished():
                f.write(json.dumps(asdict(s)) + "\n")


class SparkCounters:
    """Job, stage and task totals read from the Spark UI's REST API
    (needs ``spark.ui.enabled``; used by the traced run only)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def _get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> dict[str, float]:
        stages = [s for s in self._get("stages") if s["status"] != "SKIPPED"]
        return {
            "jobs": len(self._get("jobs")),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "run_ms": sum(s["executorRunTime"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
        }

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}


class CatalystPhases:
    """A QueryExecutionListener (through py4j's callback server) that
    keeps the analysis/optimization/planning milliseconds of every
    query execution that completes (used by the traced run only)."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.rows: list[tuple[float, dict[str, float]]] = []
        self._lock = threading.Lock()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = float(kv._2().durationMs())
        with self._lock:
            self.rows.append((time.perf_counter(), phases))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        pass

    def between(self, lo: float, hi: float) -> list[dict[str, float]]:
        with self._lock:
            return [p for t, p in self.rows if lo <= t <= hi]

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
