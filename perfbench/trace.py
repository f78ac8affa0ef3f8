"""In-memory spans for the traced replay, and the wrappers that record them.

A span is ``(name, start, end, parent, span_id, tag)``: ``tag`` is the
batch or request id. Spans nest through a per-thread stack; work that an
engine pool runs on its own threads names the current *anchor* span (the
batch being enriched) as its parent, so wire and decode spans still sit
under their batch.

Two reductions of the span list:

- :func:`self_times` — a span's duration minus the part of it that its
  children cover, summed per span name (work time; concurrent spans can
  add up to more than the wall time).
- :func:`wall_attribution` — the replay's wall time split exclusively
  between span names: each instant goes to the deepest span active at it.
  These shares add up to the wall time exactly; the root's share is the
  remainder spent outside every engine call.
"""

from __future__ import annotations

import heapq
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional

clock = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        self.spans: List[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.anchor: Optional[int] = None
        self.anchor_ready = 0.0      # when the anchor batch began fanning out

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, tag: object = None):
        stack = self._stack()
        parent = stack[-1] if stack else self.anchor
        span_id = next(self._ids)
        stack.append(span_id)
        start = clock()
        try:
            yield span_id
        finally:
            end = clock()
            stack.pop()
            self.spans.append((name, start, end, parent, span_id, tag))

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


# --- wrappers around the engine's objects ------------------------------------


class TracedTransport:
    """``HttpTransport`` stand-in: one span per wire attempt."""

    def __init__(self, inner, tracer: Tracer, name: str) -> None:
        self._inner = inner
        self._tracer = tracer
        self._name = name
        self._requests = itertools.count()

    def send(self, spec):
        with self._tracer.span(self._name, next(self._requests)):
            return self._inner.send(spec)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class TracedCache:
    """``LruTtlCache`` stand-in: spans around every probe and insert."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    def get(self, key, default=None):
        with self._tracer.span("cache.probe"):
            value = self._inner.get(key, default)
        self._tracer.anchor_ready = clock()
        return value

    def probe(self, key):
        with self._tracer.span("cache.probe"):
            value = self._inner.probe(key)
        self._tracer.anchor_ready = clock()
        return value

    def put(self, key, value) -> None:
        with self._tracer.span("cache.put"):
            self._inner.put(key, value)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class TracedClient:
    """``HttpPollingClient`` stand-in for the enrich function: a span per
    exchange (request build, retries and their sleeps; the wire attempts
    nest inside through the client's traced transport) and per decode."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer
        self._requests = itertools.count()
        self.pool_wait_s = 0.0       # exchange start − its batch's fan-out start
        self.keys = 0                # keys carried by all exchanges
        self._lock = threading.Lock()

    def _exchange(self, fn, keys: int, *args):
        ready = self._tracer.anchor_ready
        with self._tracer.span("client.exchange", next(self._requests)):
            wait = clock() - ready
            with self._lock:
                self.pool_wait_s += max(0.0, wait)
                self.keys += keys
            return fn(*args)

    def send(self, key_values):
        return self._exchange(self._inner.send, 1, key_values)

    def send_multi(self, batch_key_values):
        return self._exchange(
            self._inner.send_multi, len(batch_key_values), batch_key_values
        )

    def publish(self, exchange):
        with self._tracer.span("client.decode"):
            return self._inner.publish(exchange)

    def publish_multi(self, exchange, *args, **kwargs):
        with self._tracer.span("client.decode"):
            return self._inner.publish_multi(exchange, *args, **kwargs)

    def pull(self, key_values):
        return self.publish(self.send(key_values))

    def __getattr__(self, name):
        return getattr(self._inner, name)


def trace_sink_writer(writer, tracer: Tracer):
    """Span the writer's flushes and its backpressure waits (``write``
    drains a completed request when the buffered cap is reached, and a
    flush does when the in-flight cap is)."""
    writer.flush = tracer.wrap("sink.flush", writer.flush)
    writer._drain_one = tracer.wrap("sink.blocked", writer._drain_one)
    return writer


# --- reductions ----------------------------------------------------------------


def _union_length(intervals) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        elif hi > cur_hi:
            cur_hi = hi
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans) -> Dict[str, float]:
    """Per span name: sum over spans of (duration − union of the child
    intervals, clipped to the span)."""
    children = defaultdict(list)
    for name, start, end, parent, _sid, _tag in spans:
        if parent is not None:
            children[parent].append((start, end))
    out: Dict[str, float] = defaultdict(float)
    for name, start, end, _parent, sid, _tag in spans:
        kids = [
            (max(lo, start), min(hi, end))
            for lo, hi in children.get(sid, ())
            if hi > start and lo < end
        ]
        out[name] += (end - start) - _union_length(kids)
    return dict(out)


def wall_attribution(spans) -> Dict[str, float]:
    """Split the covered wall time between span names: every instant goes
    to the deepest active span (ties: the one that started last)."""
    by_id = {s[4]: s for s in spans}
    depth: Dict[int, int] = {}

    def depth_of(sid: int) -> int:
        if sid not in depth:
            parent = by_id[sid][3]
            depth[sid] = 0 if parent not in by_id else depth_of(parent) + 1
        return depth[sid]

    events = []
    for name, start, end, _parent, sid, _tag in spans:
        key = (depth_of(sid), start, sid)
        events.append((start, 1, key, name))
        events.append((end, 0, key, name))
    events.sort(key=lambda e: (e[0], e[1]))
    active: list = []       # max-heap on (depth, start, sid)
    ended = set()
    out: Dict[str, float] = defaultdict(float)
    last = None
    for t, kind, key, name in events:
        while active and active[0][1] in ended:
            heapq.heappop(active)
        if active and last is not None:
            out[active[0][2]] += t - last
        last = t
        if kind == 1:
            heapq.heappush(active, ((-key[0], -key[1], -key[2]), key, name))
        else:
            ended.add(key)
    return dict(out)


def percentile(values, q: float) -> float:
    ordered = sorted(values)
    if not ordered:
        return 0.0
    return float(ordered[min(len(ordered) - 1, int(q * len(ordered)))])


def durations_ms(spans, name: str) -> List[float]:
    return [(end - start) * 1000.0 for n, start, end, *_ in spans if n == name]
