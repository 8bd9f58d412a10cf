"""Benchmark-side subclasses of the engine's public extension points.

``HashLLMServing`` stands in for an API backend: a fixed delay per batch
call, answers that are a hash of the prompt (``gen.respond``), and one
seeded batch call per task that fails once, so the engine's retry path
runs. It keeps the engine's default micro-batch (``LLMServing.batch_size``).
``TimedStepStore`` traces the engine's step snapshots.

Both record only while tracing: the serving when handed counters, the
store when its tracer is enabled. Untraced, they add nothing.
"""

from __future__ import annotations

import os
import time

from pyspark.accumulators import AccumulatorParam

from dataflow_spark.core.storage import StepStore
from dataflow_spark.serving.base import LLMServing
from perfbench.gen import respond

#: wait of one batch call, standing in for an API round trip
DELAY_S = 0.02


class _ListParam(AccumulatorParam):
    """Accumulates lists by concatenation (call intervals)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class ServingCounters:
    """Spark accumulators the executors' serving copies add to."""

    def __init__(self, sc):
        self.calls = sc.accumulator(0)
        self.prompts = sc.accumulator(0)
        self.retries = sc.accumulator(0)
        self.busy_s = sc.accumulator(0.0)
        self.retry_wait_s = sc.accumulator(0.0)
        self.intervals = sc.accumulator([], _ListParam())

    def snapshot(self) -> dict:
        return {"calls": self.calls.value, "prompts": self.prompts.value,
                "retries": self.retries.value, "busy_s": self.busy_s.value,
                "retry_wait_s": self.retry_wait_s.value,
                "in_flight": max_overlap(self.intervals.value)}


def max_overlap(intervals: list[tuple[float, float]]) -> int:
    """Largest number of intervals open at one instant."""
    ev = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    best = cur = 0
    for _, d in ev:
        cur += d
        best = max(best, cur)
    return best


class HashLLMServing(LLMServing):
    """Deterministic API stand-in.

    Each task gets its own unpickled copy, so ``_calls`` counts the batch
    calls of one task; that task's ``fail_call``-th call raises once and
    the engine's ``generate_with_retry`` repeats it. ``busy_s`` counts
    the successful calls; ``retry_wait_s`` the rest of the time spent in
    ``generate_with_retry`` (failed calls and the backoff sleep).
    """

    def __init__(self, fail_call: int, counters: ServingCounters | None = None):
        self.fail_call = fail_call
        self.counters = counters
        self._calls = 0
        self._busy = 0.0

    def generate_with_retry(self, prompts, *args, **kwargs):
        t0 = time.time()
        self._busy = 0.0
        out = super().generate_with_retry(prompts, *args, **kwargs)
        if self.counters is not None:
            self.counters.retry_wait_s.add(time.time() - t0 - self._busy)
        return out

    def generate_batch(self, prompts: list[str]) -> list[str]:
        t0 = time.time()
        self._calls += 1
        c = self.counters
        if c is not None:
            c.calls.add(1)
        if self._calls == self.fail_call:
            if c is not None:
                c.retries.add(1)
            raise ConnectionError("planned transient failure")
        time.sleep(DELAY_S)
        out = [respond(p) for p in prompts]
        t1 = time.time()
        self._busy = t1 - t0
        if c is not None:
            c.prompts.add(len(prompts))
            c.busy_s.add(t1 - t0)
            c.intervals.add([(t0, t1)])
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class TimedStepStore(StepStore):
    """StepStore whose writes and reads open ``core.storage`` spans;
    a write span also records the snapshot's bytes on disk."""

    def __init__(self, cache_dir: str, tracer):
        super().__init__(cache_dir)
        self.tracer = tracer

    def write(self, df, step, op_name=""):
        with self.tracer.span("core.storage.write", "core.storage") as rec:
            path = super().write(df, step, op_name)
            if self.tracer.enabled:
                rec["bytes"] = dir_bytes(path)
        return path

    def read(self, spark, step=None):
        with self.tracer.span("core.storage.read", "core.storage"):
            return super().read(spark, step)
