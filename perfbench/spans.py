"""In-memory spans and counters for the traced benchmark run.

Spans are recorded only from the benchmark's own files: the engine's public
functions are wrapped by patching the module attributes the engine itself
looks up at call time, so no engine code changes. With tracing off nothing
is patched and ``Tracer.span`` is a no-op context manager.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    """Span recorder: name, start, end, parent and request id per span.

    ``enabled`` switches recording on and off at run time (the serving
    stream alternates it to measure the tracer's own cost)."""

    def __init__(self, active: bool):
        self.active = active
        self.enabled = active
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request_id = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not (self.active and self.enabled):
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "req": self.request_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn, attrs=None):
        """``fn`` inside a span; ``attrs(*args, **kwargs)`` may add
        fields to it."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            extra = attrs(*args, **kwargs) if attrs else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper for the rest of the
        process."""
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), attrs))

    # -- derived views ---------------------------------------------------

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it its child spans cover
        (children of one span never overlap: one client thread)."""
        kids = sum(
            self.duration(s) for s in self.spans if s["parent"] == rec["id"]
        )
        return self.duration(rec) - kids

    def children(self, rec: dict, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["parent"] == rec["id"] and (name is None or s["name"] == name)
        ]

    def descendants(self, rec: dict, name: str) -> list[dict]:
        out, frontier = [], [rec["id"]]
        while frontier:
            pid = frontier.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    frontier.append(s["id"])
                    if s["name"] == name:
                        out.append(s)
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the engine's layer-boundary functions. Each patched attribute
    is the one the engine resolves at call time (module globals, or the
    module a function-local ``from .x import y`` reads)."""
    import escp_spark.build as build
    import escp_spark.query as query
    import escp_spark.sidecar as sidecar
    import escp_spark.sources.tables as tables
    import escp_spark.streaming.deletes as deletes
    import escp_spark.streaming.ingest as ingest

    tracer.patch(sidecar, "write_rg_sidecar", "sidecar.write")
    for mod in (tables, build, deletes, ingest):
        tracer.patch(mod, "publish_manifest", "publish")
    tracer.patch(build, "merge_segments", "merge_segments")
    tracer.patch(deletes, "purge_level0", "purge")
    tracer.patch(deletes, "purge_docmap", "purge")
    for meth in ("term_dfs", "meta_for_terms", "fetch_payloads"):
        tracer.patch(query.IndexReader, meth, f"reader.{meth}")
    tracer.patch(
        query.IndexReader, "urls_for", "reader.urls_for",
        attrs=lambda reader, doc_ids: {"n": int(len(doc_ids))},
    )


class SparkJobs:
    """Spark job / task counts from the driver's application status
    store, counted from the job ids started after a marker. Covers jobs
    of every thread, including the structured-streaming thread that runs
    ``stream_ingest_once``'s micro-batches under its own job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def _jobs(self):
        seq = self._store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def marker(self) -> int:
        ids = [j.jobId() for j in self._jobs()]
        return max(ids) if ids else -1

    def since(self, marker: int) -> dict:
        # The status store is fed asynchronously by the listener bus.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in self._jobs() if j.jobId() > marker]
        return {
            "jobs": len(jobs),
            "tasks": sum(j.numTasks() for j in jobs),
            "failed_tasks": sum(j.numFailedTasks() for j in jobs),
        }

    @contextlib.contextmanager
    def group(self, name: str):
        """Label the jobs of one timed call (visible in Spark's event log
        and UI) and count them afterwards."""
        m = self.marker()
        self._sc.setJobGroup(name, name)
        out: dict = {}
        try:
            yield out
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self._sc.setLocalProperty(key, None)
            out.update(self.since(m))
