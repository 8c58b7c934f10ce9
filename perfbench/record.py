"""Timed calls and serving reads of one run, and the statistics over them."""

from __future__ import annotations

import contextlib
import math
import statistics
import time

import escp_spark.query as Q


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


class Recorder:
    """Every timed call goes through ``call`` (writes, checks, batches) or
    ``read`` (one serving request). Failures are counted, then re-raised
    for calls; a failed read is kept with ``rows=None`` so the oracle check
    rejects the run. The host probe samples before each call, outside
    its timing."""

    def __init__(self, tracer, jobs, probe):
        self.tracer = tracer
        self.jobs = jobs
        self.probe = probe
        self.attempted = 0
        self.failed = 0
        self.calls: list[dict] = []
        self.reads: list[dict] = []

    def call(self, kind: str, name: str, fn):
        self.attempted += 1
        self.probe.sample()
        group = self.jobs.group(name) if self.jobs else contextlib.nullcontext({})
        with group as spark_counts:
            with self.tracer.span(name) as span:
                t = time.perf_counter()
                try:
                    out = fn()
                except Exception:
                    self.failed += 1
                    raise
                dt = time.perf_counter() - t
        self.calls.append({"kind": kind, "name": name, "s": dt,
                           "spark": spark_counts, "span": span})
        return out

    def read(self, reader, index_dir: str, query: dict, phase: int) -> list:
        """One closed-loop serving request. With tracing active, every
        other request runs untraced, so the tracer's own cost per request
        is measured on the same stream."""
        self.attempted += 1
        tr = self.tracer
        traced = tr.active and len(self.reads) % 2 == 0
        tr.enabled = traced
        tr.request_id = len(self.reads)
        with tr.span("serve.request") as span:
            t = time.perf_counter()
            try:
                rows = Q.search_topk(index_dir, [query], reader=reader)
            except Exception:
                self.failed += 1
                rows = None
            dt = time.perf_counter() - t
        tr.enabled = tr.active
        tr.request_id = None
        self.reads.append({
            "ms": dt * 1e3, "phase": phase, "query": query, "rows": rows,
            "traced": traced, "span": span,
            "prune": dict(Q.last_prune_stats) if traced else None,
        })
        return rows or []

    def seconds(self, kind: str | None = None) -> list[float]:
        return [c["s"] for c in self.calls if kind in (None, c["kind"])]

    def work_s(self) -> float:
        return sum(self.seconds()) + sum(r["ms"] for r in self.reads) / 1e3

    def read_ms(self) -> list[float]:
        return [r["ms"] for r in self.reads]
