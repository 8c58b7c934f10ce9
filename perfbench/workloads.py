"""The two workloads. Each returns (end-to-end metrics, per-layer metrics,
oracle errors); per-layer metrics a workload leaves out are reported as 0
(that layer is idle in it).

index   build -> validate -> minhash -> batches (ref, hot, wide) over one
        seeded corpus, with a slice of the serving stream after each call,
        on a long-lived reader whose caches fill (repeated popular queries).
update  streamed epochs from an empty index: ingest + finalize, reads,
        delete_urls, reads; a batch over the soft-deleted index;
        compact_index, reads. Every publish drops the reader's caches.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import escp_spark.build as B
import escp_spark.query as Q
import escp_spark.streaming.ingest as ingest_mod
from escp_spark.analyzer import tokenize
from escp_spark.operators.dedup import minhash_signatures
from escp_spark.oracle import NaiveIndex
from escp_spark.query import IndexReader, search_topk_spark
from escp_spark.sources.tables import load_manifest
from escp_spark.streaming import (
    compact_index,
    delete_urls,
    finalize_streamed_index,
    stream_ingest_once,
)
from escp_spark.validate import validate_index

import data
from check import Expected, check_batch, compare, lww_docs
from kernels import kernel_metrics
from record import median, pct

BUILD_ARGS = {"n_buckets": 16, "max_segments": 5, "n_groups": 2}
BATCHES = ("ref", "hot", "wide")
# Which side of the batch path's small/big cut switch each batch must sit
# on (True = above): a seed or size change must not move one across.
BATCH_BIG_SIDE = {"ref": False, "hot": False, "wide": True}
# One slice of the serving stream after each timed call of `index`.
INDEX_READ_SLICES = 6

STREAM_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


def scale_batch_switch() -> None:
    """The engine picks its big-batch cut above a fixed count of matched
    postings, tuned on a 100k-doc corpus. The benchmark's corpus is
    INDEX_DOCS, so the switch is scaled by the same factor: every batch
    then sits on the side of the switch it sits on at full size."""
    Q._BIG_MATCHED_POSTINGS = (
        Q._BIG_MATCHED_POSTINGS * data.INDEX_DOCS // data.REFERENCE_DOCS
    )


def term_dfs(index_dir: str) -> dict[str, int]:
    path = load_manifest(index_dir)["paths"]["dictionary"]
    t = pads.dataset(path, format="parquet").to_table(columns=["term", "df"])
    return dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))


def batch_work(dfs: dict, queries: list[dict]) -> tuple[int, int]:
    """(matched postings, posting x query rows) of a batch: the sum of df
    over its distinct matched terms, and over (query, term) pairs."""
    matched, rows = set(), 0
    for q in queries:
        terms = {t for t in tokenize(q["query_text"]) if t in dfs}
        matched |= terms
        rows += sum(dfs[t] for t in terms)
    return sum(dfs[t] for t in matched), rows


def check_reads(reads, expected_of_phase, minimum: int) -> list[str]:
    errors = []
    if len(reads) < minimum:
        errors.append(f"{len(reads)} reads, expected at least {minimum}")
    for i, r in enumerate(reads):
        q = r["query"]
        if r["rows"] is None:
            errors.append(f"read {i} ({q['query_text']!r}) raised")
            continue
        err = compare(r["rows"], expected_of_phase[r["phase"]].topk(
            q["query_text"], q["k"]))
        if err:
            errors.append(f"read {i} phase {r['phase']} "
                          f"{q['query_text']!r}: {err}")
    return errors


def spark_count(call: dict, key: str) -> int:
    return int(call["spark"].get(key, 0))


def serve_layers(ctx, reader) -> dict:
    """Per-request step times (median and p99 over the traced half of the
    stream), pruning and cache-miss I/O counters, reload stalls, and the
    tracer's own cost per request."""
    tr, reads = ctx.tracer, ctx.rec.reads
    traced = [r for r in reads if r["traced"]]
    steps = {"term_dfs": [], "meta": [], "fetch": [], "urls": [], "score": []}
    names = {"reader.term_dfs": "term_dfs", "reader.meta_for_terms": "meta",
             "reader.fetch_payloads": "fetch", "reader.urls_for": "urls"}
    candidates = 0
    for r in traced:
        per = dict.fromkeys(names.values(), 0.0)
        for kid in tr.children(r["span"]):
            if kid["name"] in names:
                per[names[kid["name"]]] += tr.duration(kid) * 1e3
            if kid["name"] == "reader.urls_for":
                candidates += kid["n"]
        for k, v in per.items():
            steps[k].append(v)
        steps["score"].append(tr.self_time(r["span"]) * 1e3)
    out = {}
    for k, v in steps.items():
        out[f"serve.{k}_ms_p50"] = median(v)
        out[f"serve.{k}_ms_p99"] = pct(v, 0.99)
    total = sum(r["prune"].get("total_blocks", 0) for r in traced)
    pruned = sum(r["prune"].get("pruned_blocks", 0) for r in traced)
    # A phase starts right after a publish: its first read pays the reload.
    stalls = []
    for phase in sorted({r["phase"] for r in reads}):
        ms = [r["ms"] for r in reads if r["phase"] == phase]
        stalls.append(ms[0] - median(ms))
    untraced = [r["ms"] for r in reads if not r["traced"]]
    per_req = median(r["ms"] for r in traced) - median(untraced)
    out.update({
        "serve.blocks_total": total,
        "serve.blocks_pruned": pruned,
        "serve.pruned_ratio": pruned / total if total else 0.0,
        "serve.payload_bytes": reader.payload_bytes_fetched,
        "serve.payload_rowgroups": reader.payload_rowgroups_fetched,
        "serve.dm_rowgroups": reader.dm_rowgroups_touched,
        "serve.candidates": candidates,
        "reader.reload_ms": median(stalls),
        "trace.overhead_ms_per_request": per_req,
        "trace.overhead_s": per_req * len(traced) / 1e3,
    })
    return out


def write_layers(ctx) -> dict:
    tr = ctx.tracer
    return {
        "sidecar.write_s": sum(tr.duration(s) for s in tr.named("sidecar.write")),
        "sidecar.calls": len(tr.named("sidecar.write")),
        "publish.calls": len(tr.named("publish")),
    }


# --------------------------------------------------------------------------
# index
# --------------------------------------------------------------------------

def run_index(ctx):
    spark, rec = ctx.spark, ctx.rec
    inp = data.index_inputs(ctx.run_dir, ctx.seed)
    corpus, batches = inp["corpus"], inp["batches"]
    warm_idx = os.path.join(ctx.run_dir, "warm_index")
    idx = os.path.join(ctx.run_dir, "index")
    scale_batch_switch()

    # Set-up: one unmeasured build and batch warm the JIT and the Python
    # workers; the first call of each measured ~2x slower.
    ctx.setup_step("build", lambda: B.build_index(
        spark, inp["warm_corpus"], warm_idx, **BUILD_ARGS))
    ctx.setup_step("batch", lambda: search_topk_spark(
        spark, warm_idx, batches["ref"]).collect())
    ctx.setup_done()

    t0 = time.perf_counter()
    manifest = rec.call("write", "build_index",
                        lambda: B.build_index(spark, corpus, idx, **BUILD_ARGS))
    build_timings = dict(B.last_build_timings)
    # The serving stream runs in slices after each timed call, on one
    # reader that starts cold: the host's speed drifts over seconds, and
    # reads spread over the whole timed part sample it evenly.
    reader = IndexReader(idx)
    slices = iter(np.array_split(np.array(inp["requests"], dtype=object),
                                 INDEX_READ_SLICES))

    def serve_slice():
        for q in next(slices):
            rec.read(reader, idx, q, phase=0)

    serve_slice()
    vres = rec.call("check", "validate_index",
                    lambda: validate_index(spark, corpus, idx, sample_denom=1))
    serve_slice()
    docs_df = (
        spark.read.parquet(corpus)
        .select(F.abs(F.xxhash64("url")).alias("doc_id"), "text")
        .repartition(2 * ctx.cpus)
    )
    n_sigs = rec.call("check", "minhash",
                      lambda: minhash_signatures(docs_df).count())
    serve_slice()
    batch_rows, batch_timings = {}, {}
    for name in BATCHES:
        batch_rows[name] = rec.call(
            "batch", f"batch.{name}",
            lambda qs=batches[name]: search_topk_spark(spark, idx, qs).collect(),
        )
        batch_timings[name] = dict(Q.last_batch_timings)
        serve_slice()
    ctx.timed_done(t0)

    # ---- oracle check (untimed) ----
    pdf = pq.read_table(corpus).to_pandas()
    docs = lww_docs(pdf)
    expected = Expected(NaiveIndex(dict(zip(docs["url"], docs["text"]))))
    errors = []
    if manifest["n_docs"] != len(docs):
        errors.append(f"n_docs {manifest['n_docs']} != {len(docs)} live urls")
    if not vres.total == vres.checked == vres.matched == len(docs):
        errors.append(f"validate_index: {vres}")
    if n_sigs != len(pdf):
        errors.append(f"minhash rows {n_sigs} != corpus rows {len(pdf)}")
    dfs = term_dfs(idx)
    # The switch as the engine sees it after the batches ran.
    switch = Q._BIG_MATCHED_POSTINGS
    work = {}
    for name in BATCHES:
        errors += [f"batch {name}: {e}" for e in
                   check_batch(batch_rows[name], batches[name], expected)]
        work[name] = batch_work(dfs, batches[name])
        if (work[name][0] > switch) != BATCH_BIG_SIDE[name]:
            errors.append(
                f"batch {name}: {work[name][0]} matched postings is on the "
                f"wrong side of the {switch} switch")
    errors += check_reads(rec.reads, {0: expected}, data.SERVE_REQUESTS)

    n_docs = manifest["n_docs"]
    e2e = {
        "work_s": rec.work_s(),
        "write_s": sum(rec.seconds("write")),
        "batch_s": sum(rec.seconds("batch")),
        "read_p50_ms": median(rec.read_ms()),
        "read_p95_ms": pct(rec.read_ms(), 0.95),
        "index_bytes_per_doc": dir_bytes(idx) / n_docs,
    }
    if not ctx.trace:
        return e2e, {}, errors

    calls = {c["name"]: c for c in rec.calls}
    build_call = calls["build_index"]
    val_call, mh_call = calls["validate_index"], calls["minhash"]
    layer = {
        "build.shuffle_s": build_timings.get("shuffle", 0.0),
        "build.segment_s": build_timings.get("segment", 0.0),
        "build.merge_s": build_timings.get("merge", 0.0),
        "build.finalize_s": build_timings.get("finalize", 0.0),
        "build.spark_jobs": spark_count(build_call, "jobs"),
        "build.spark_tasks": spark_count(build_call, "tasks"),
        "build.staging_bytes": dir_bytes(os.path.join(idx, "staging")),
        "build.published_bytes": sum(
            dir_bytes(p) for p in manifest["paths"].values()),
        "build.docs_per_s": n_docs / build_call["s"],
        "validate.docs_per_s": vres.checked / val_call["s"],
        "validate.checked_docs": vres.checked,
        "validate.spark_jobs": spark_count(val_call, "jobs"),
        "minhash.docs_per_s": n_sigs / mh_call["s"],
        "minhash.spark_tasks": spark_count(mh_call, "tasks"),
        "batch.switch_postings": switch,
    }
    for name in BATCHES:
        call, bt = calls[f"batch.{name}"], batch_timings[name]
        urls = ctx.tracer.descendants(call["span"], "reader.urls_for")
        layer.update({
            f"batch.{name}.s": call["s"],
            f"batch.{name}.plan_s": bt.get("plan", 0.0),
            f"batch.{name}.score_s": bt.get("score", 0.0),
            f"batch.{name}.cut_s": bt.get("cut", 0.0),
            f"batch.{name}.urls_s": sum(ctx.tracer.duration(s) for s in urls),
            f"batch.{name}.spark_jobs": spark_count(call, "jobs"),
            f"batch.{name}.spark_tasks": spark_count(call, "tasks"),
            f"batch.{name}.matched_postings": work[name][0],
            f"batch.{name}.expansion_rows": work[name][1],
            f"batch.{name}.big_side": int(work[name][0] > switch),
            f"batch.{name}.candidates": bt.get("candidates", 0),
        })
    layer.update(write_layers(ctx))
    layer.update(serve_layers(ctx, reader))
    layer.update(kernel_metrics(pdf["html"].tolist()))
    return e2e, layer, errors


# --------------------------------------------------------------------------
# update
# --------------------------------------------------------------------------

def run_update(ctx):
    spark, rec = ctx.spark, ctx.rec
    inp = data.update_inputs(ctx.seed)
    docs, pool, rng = inp["docs"], inp["pool"], inp["rng"]
    src = os.path.join(ctx.run_dir, "src")
    idx = os.path.join(ctx.run_dir, "index")
    os.makedirs(src)

    # Set-up: epoch 0 is ingested cold (it warms the JIT and the Python
    # workers) and is the state the measured epochs start from.
    ingested = [data.write_epoch(docs, 0, os.path.join(src, "part0.parquet"))]
    ctx.setup_step("ingest", lambda: stream_ingest_once(
        spark, src, idx, STREAM_SCHEMA))
    ctx.setup_step("finalize", lambda: finalize_streamed_index(spark, idx))
    ctx.setup_done()

    t0 = time.perf_counter()
    reader = IndexReader(idx)
    # Index state of each read phase: (epochs ingested, tombstoned urls,
    # compacted) -> the oracle that phase is checked against.
    states: dict[int, tuple] = {}
    deleted: set[str] = set()

    def reads(phase: int, n: int, state: tuple) -> list:
        states[phase] = state
        rows = []
        for q in data.zipf_mix(rng, pool, n):
            rows += rec.read(reader, idx, q, phase)
        return rows

    def pick_victims(result_rows: list) -> list[str]:
        """Half the deletes hit urls the reads just returned (so the
        tombstone filter changes results), half are random live urls."""
        live = [u for part in ingested for u in part["url"] if u not in deleted]
        seen = sorted({r["doc_url"] for r in result_rows} - deleted)
        hit = list(rng.choice(seen, size=min(len(seen), data.UPDATE_DELETES // 2),
                              replace=False))
        rest = sorted(set(live) - set(hit))
        hit += list(rng.choice(rest, size=data.UPDATE_DELETES - len(hit),
                               replace=False))
        return [str(u) for u in hit]

    phase = 0
    reads(phase, data.UPDATE_READS_PER_PHASE, (1, frozenset(), False))
    ingest_calls, delete_calls, maybe_hits, n_deleted = [], [], 0, []
    for e in range(1, data.UPDATE_EPOCHS):
        ingested.append(
            data.write_epoch(docs, e, os.path.join(src, f"part{e}.parquet")))
        rec.call("write", "stream_ingest_once",
                 lambda: stream_ingest_once(spark, src, idx, STREAM_SCHEMA))
        ingest_call = rec.calls[-1]
        maybe_hits += ingest_mod.last_dedup_stats.get("maybe_hits", 0)
        rec.call("write", "finalize_streamed_index",
                 lambda: finalize_streamed_index(spark, idx))
        ingest_calls.append((ingest_call, rec.calls[-1]))
        phase += 1
        got = reads(phase, data.UPDATE_READS_PER_PHASE,
                    (e + 1, frozenset(deleted), False))
        victims = pick_victims(got)
        n_deleted.append(rec.call("write", "delete_urls",
                                  lambda: delete_urls(spark, idx, victims)))
        delete_calls.append(rec.calls[-1])
        deleted |= set(victims)
        phase += 1
        reads(phase, data.UPDATE_READS_PER_PHASE,
              (e + 1, frozenset(deleted), False))
    posting_blocks = pads.dataset(
        load_manifest(idx)["paths"]["postings"], format="parquet").count_rows()
    batch_state = (data.UPDATE_EPOCHS, frozenset(deleted), False)
    batch_rows = rec.call("batch", "batch.update",
                          lambda: search_topk_spark(spark, idx, pool).collect())
    manifest = rec.call("write", "compact_index",
                        lambda: compact_index(spark, idx))
    compact_call = rec.calls[-1]
    phase += 1
    reads(phase, data.UPDATE_READS_PER_PHASE,
          (data.UPDATE_EPOCHS, frozenset(deleted), True))
    ctx.timed_done(t0)

    # ---- oracle check (untimed) ----
    errors = []
    oracles: dict = {}

    def expected(state: tuple) -> Expected:
        """Before compaction the index scores with the statistics of every
        ingested doc and hides tombstoned urls; after it, the live docs
        are the whole index."""
        if state not in oracles:
            n_epochs, tomb, compacted = state
            rows = [r for part in ingested[:n_epochs]
                    for r in zip(part["url"], part["text"])]
            if compacted:
                rows = [r for r in rows if r[0] not in tomb]
                tomb = frozenset()
            oracles[state] = Expected(NaiveIndex(dict(rows)), tomb)
        return oracles[state]

    errors += check_reads(
        rec.reads, {p: expected(s) for p, s in states.items()},
        data.UPDATE_READS_PER_PHASE * len(states))
    errors += [f"batch update: {e}" for e in
               check_batch(batch_rows, pool, expected(batch_state))]
    live = len(docs) - len(deleted)
    if manifest["n_docs"] != live:
        errors.append(f"compacted n_docs {manifest['n_docs']} != {live} live")
    if n_deleted != [data.UPDATE_DELETES] * len(n_deleted):
        errors.append(f"delete_urls tombstoned {n_deleted} docs")

    e2e = {
        "work_s": rec.work_s(),
        "write_s": sum(rec.seconds("write")),
        "batch_s": sum(rec.seconds("batch")),
        "read_p50_ms": median(rec.read_ms()),
        "read_p95_ms": pct(rec.read_ms(), 0.95),
        "index_bytes_per_doc": dir_bytes(idx) / manifest["n_docs"],
    }
    if not ctx.trace:
        return e2e, {}, errors

    tr = ctx.tracer
    layer = {
        "stream.ingest_s": median(i["s"] for i, _ in ingest_calls),
        "stream.finalize_s": median(f["s"] for _, f in ingest_calls),
        "stream.ingest_visible_s": median(
            i["s"] + f["s"] for i, f in ingest_calls),
        "stream.maybe_hits": maybe_hits,
        "stream.spark_jobs": median(
            spark_count(i, "jobs") + spark_count(f, "jobs")
            for i, f in ingest_calls),
        "stream.delete_s": median(c["s"] for c in delete_calls),
        "stream.delete_spark_jobs": median(
            spark_count(c, "jobs") for c in delete_calls),
        "stream.purge_s": sum(tr.duration(s) for s in tr.named("purge")),
        "stream.compact_s": compact_call["s"],
        "stream.compact_merge_s": sum(
            tr.duration(s)
            for s in tr.descendants(compact_call["span"], "merge_segments")),
        "stream.posting_blocks": posting_blocks,
    }
    layer.update(write_layers(ctx))
    layer.update(serve_layers(ctx, reader))
    layer.update(kernel_metrics(ingested[0]["html"].tolist()))
    return e2e, layer, errors


WORKLOADS = {"index": run_index, "update": run_update}
