"""In-memory spans recorded by the benchmark around calls into the
package; nothing inside the package is instrumented.

A span has a name, start, end, the span that was open on the same
thread when it began (its parent) and a request id shared by the spans
of one request (``tick:3`` for batch 3 of the tick query, ``scan:17``
for the 18th scan).  A layer's self time is its duration minus the part
of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    rid: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans from any thread.  A disabled tracer records
    nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, rid: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sp = Span(len(self.spans), name, rid,
                      stack[-1].sid if stack else None, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, sp: Span) -> float:
        """``sp``'s duration minus the union of its children's
        intervals (clipped to ``sp``)."""
        kids = sorted((max(c.start, sp.start), min(c.end, sp.end))
                      for c in self.spans if c.parent == sp.sid)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered


def span_cost_s(n: int = 10_000) -> float:
    """Wall time one span adds on this thread, measured over ``n``
    empty spans of a separate tracer."""
    tr = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def wrap_callback(tracer: Tracer, name: str, suffix: str, callback):
    """A foreachBatch callback that runs ``callback`` inside a span
    ``name`` with request id ``<suffix>:<batch_id>``."""

    def _traced(batch_df, batch_id):
        with tracer.span(name, f"{suffix}:{batch_id}"):
            callback(batch_df, batch_id)

    return _traced


@contextlib.contextmanager
def traced_pipeline(tracer: Tracer):
    """Wrap the callback factories ``build_streaming_pipeline`` calls
    (``foreach_batch_upsert`` and ``foreach_batch_with_metrics``) so
    every sink write and every metrics-wrapper call is a span.  The
    factories are restored on exit.  Does nothing for a disabled
    tracer."""
    from level2_to_cassandra_spark.streaming import monitor, pipeline

    if not tracer.enabled:
        yield
        return

    upsert, with_metrics = (pipeline.foreach_batch_upsert,
                            monitor.foreach_batch_with_metrics)

    def _upsert(path, suffix):
        return wrap_callback(tracer, f"sink.{suffix}.write", suffix,
                             upsert(path, suffix))

    def _with_metrics(inner, base_path, suffix, *a, **kw):
        return wrap_callback(tracer, "monitor.metrics", suffix,
                             with_metrics(inner, base_path, suffix, *a, **kw))

    pipeline.foreach_batch_upsert = _upsert
    monitor.foreach_batch_with_metrics = _with_metrics
    try:
        yield
    finally:
        pipeline.foreach_batch_upsert = upsert
        monitor.foreach_batch_with_metrics = with_metrics
