"""Cross-epoch update/delete for streamed indexes (VERDICT r03 missing
#3) — the Lucene soft-delete + merge-purge trade, Spark-first.

Lifecycle (every step that changes what queries see is one manifest
publish — sources/tables.py):

1. ``delete_urls`` resolves urls → doc_ids with an isin-pruned docmap
   read and publishes a new tombstone set: the prior set plus these
   ids, written to a new ``tombstones-<id>`` directory. Nothing else is
   rewritten, so a long-lived reader reloads only the tombstones.
2. **Soft-delete serving**: readers load the tombstone set of the
   manifest they pinned and EXCLUDE those doc_ids during scoring —
   inside the WAND decode, so θ is computed over live docs only and
   pruning stays exact for the live set (block upper bounds may still
   include deleted docs' stats: a stale-but-valid upper bound,
   conservative never wrong). Corpus statistics (df, avgdl, n_docs)
   remain stale until compaction — the same trade Lucene makes before a
   merge; scores of live docs are therefore approximate w.r.t. a fresh
   build over the live docs until compaction.
3. **Update** = delete + re-ingest: ``_indexed_urls`` (ingest.py)
   does not count a tombstoned doc_id's docmap row in the append-only
   dedup, so a later micro-batch re-indexes the url under a fresh
   doc_id; the old doc_id stays tombstoned.
4. ``compact_index`` PHYSICALLY purges into new directories, in ONE
   Spark job over the level-0 and docmap file list (``purge_level0``):
   each task streams its files row group by row group with pyarrow
   into new files. Only the row groups whose footer doc-id range holds
   a tombstone are filtered: in level-0 only the blocks whose
   [doc_id_lo, doc_id_hi] holds one are decoded, filtered and
   re-encoded, and the docmap drops its tombstoned rows. Every file
   keeps its
   relative path (a docmap keeps its ``group=eN/bucket-NNNNN.parquet``
   files). Stats are recomputed from the purged postings, and one
   publish names the purged level-0, docmap and postings and no
   tombstone set — after which results are EXACTLY those of a fresh
   build over the live corpus (asserted in tests). A crash before that
   publish leaves the previous index, tombstones included, serving.

Scale shape: tombstones are explicit operator actions — driver-sized by
nature (each one was itself a driver call), so they travel in the purge
tasks' closure. The purge is one task per slice of files, balanced by
bytes, with no shuffle and no Spark parquet writer: untouched row
groups are read and written back as they are, and decoding is
O(deleted docs' blocks), not O(index).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..build import DOCMAP_SCHEMA
from ..codec import binary_stream, decode_blocks_bulk, encode_posting_frame
from ..sources.tables import IndexLayout, load_manifest, publish_manifest

# Manifest keys regenerated by publish_manifest — stripped when
# republishing an existing manifest's stats.
_GENERATED_KEYS = ("build_id", "status", "publish_id", "published_unix",
                   "paths")


def _resolve_build_id(manifest: dict, build_id: str | None) -> str:
    """The manifest is the source of truth for which build's staging the
    delete/compact lifecycle operates on (ADVICE r04)."""
    actual = manifest.get("build_id", "stream0")
    if build_id is not None and build_id != actual:
        raise ValueError(
            f"build_id {build_id!r} does not match the published "
            f"manifest's {actual!r}"
        )
    return actual


def load_tombstones(index_dir: str, paths: dict | None = None) -> np.ndarray:
    """Sorted unique tombstoned doc_ids of the artifact ``paths`` of a
    manifest (default: the index's current manifest); empty if none."""
    if paths is None:
        paths = IndexLayout(index_dir).paths
    if not paths.get("tombstones"):
        return np.empty(0, dtype=np.int64)
    import pyarrow.dataset as pads

    t = pads.dataset(paths["tombstones"], format="parquet").to_table(
        columns=["doc_id"]
    )
    return np.unique(t.column("doc_id").to_numpy().astype(np.int64))


def live_mask(ids: np.ndarray, tombstones: np.ndarray) -> np.ndarray:
    """Boolean mask of ids NOT in the sorted tombstone array —
    searchsorted membership, no hashing, vectorized. Safe on an empty
    tombstone array (ADVICE r04: `tombstones[pos_c]` would index -1 on a
    size-0 array; don't rely on callers guarding)."""
    if tombstones.size == 0:
        return np.ones(len(ids), dtype=bool)
    ids64 = ids.astype(np.int64)
    pos = np.searchsorted(tombstones, ids64)
    pos_c = np.minimum(pos, tombstones.size - 1)
    return ~((pos < tombstones.size) & (tombstones[pos_c] == ids64))


def delete_urls(spark: SparkSession, index_dir: str, urls,
                build_id: str | None = None) -> int:
    """Soft-delete the given urls. Returns the number of doc_ids
    tombstoned (an url re-indexed after an earlier delete has several
    docmap rows — ALL its doc_ids are tombstoned).

    ``build_id`` defaults to the published manifest's own build_id
    (ADVICE r04: a caller-supplied default silently rewrote the
    manifest's build_id for non-default builds); passing a mismatching
    id fails loudly instead of republishing under the wrong identity."""
    urls = list(urls)
    if not urls:
        return 0
    manifest = load_manifest(index_dir)
    layout = IndexLayout(index_dir, _resolve_build_id(manifest, build_id))
    # isin pushdown: docmap rows are url-sorted within each bucket, so
    # footer stats prune the row groups this point-lookup touches. The
    # read schema is given, so the lookup is the call's one Spark job.
    rows = (
        spark.read.schema(DOCMAP_SCHEMA).parquet(layout.docmap)
        .filter(F.col("url").isin(urls))
        .select("doc_id", "url")
        .collect()
    )
    if not rows:
        return 0
    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([int(r.doc_id) for r in rows], pa.int64()),
            "url": pa.array([r.url for r in rows], pa.string()),
        }
    )
    prior = layout.paths.get("tombstones")
    if prior:
        table = pa.concat_tables([
            pads.dataset(prior, format="parquet").to_table(
                columns=["doc_id", "url"]),
            table,
        ])
    out = layout.artifact("tombstones")
    os.makedirs(out)
    pq.write_table(table, os.path.join(out, "part-0.parquet"))
    publish_manifest(
        layout,
        {k: v for k, v in manifest.items() if k not in _GENERATED_KEYS},
        {**layout.paths, "tombstones": out},
    )
    return len(rows)


# Rewritten files use the zstd level Spark writes level-0 with
# (parquet-mr's default, 3) and no Arrow schema footer, as the build's
# docmap writer does: pyarrow's defaults write larger files.
_REWRITE_OPTS = {"compression": "zstd", "compression_level": 3,
                 "store_schema": False}
_STAT_COLS = ("n", "doc_id_lo", "doc_id_hi", "max_tf", "min_dl", "sum_tf")
_PAYLOAD_COLS = ("doc_ids", "tfs", "dls")


def _holds_tombstone(lo, hi, tombstones: np.ndarray) -> np.ndarray:
    """Per [lo, hi] doc-id range: does some tombstone lie in it? One
    double-searchsorted over the sorted tombstone array."""
    return np.searchsorted(tombstones, hi, side="right") > \
        np.searchsorted(tombstones, lo, side="left")


def _rewrite_file(src: str, dst: str, lo_col: str, hi_col: str,
                  tombstones: np.ndarray, purge_rows, **write_opts) -> bool:
    """Write ``src`` minus its tombstoned rows to ``dst``; returns whether
    some row group's [min(lo_col), max(hi_col)] footer range held a
    tombstone. Each row group is read, passed through
    ``purge_rows(table, tombstones)`` when its range holds one, and
    written as one row group (an emptied one is left out). The file
    appears under ``dst`` by rename from a hidden temp name, so a
    retried task rewrites the same bytes and no reader lists a partial
    file."""
    import uuid

    import pyarrow.parquet as pq

    tmp = os.path.join(os.path.dirname(dst),
                       f".{os.path.basename(dst)}.{uuid.uuid4().hex}")
    with pq.ParquetFile(src) as pf:
        md = pf.metadata
        lo, hi = (md.schema.names.index(c) for c in (lo_col, hi_col))
        hit = [
            bool(_holds_tombstone(md.row_group(i).column(lo).statistics.min,
                                  md.row_group(i).column(hi).statistics.max,
                                  tombstones))
            for i in range(md.num_row_groups)
        ]
        with pq.ParquetWriter(tmp, pf.schema_arrow, **write_opts) as w:
            for i, h in enumerate(hit):
                t = pf.read_row_group(i)
                if h:
                    t = purge_rows(t, tombstones)
                if t.num_rows:
                    w.write_table(t, row_group_size=t.num_rows)
    os.replace(tmp, dst)
    return any(hit)


def _live_docmap_rows(t, tombstones: np.ndarray):
    import pyarrow as pa

    return t.filter(pa.array(live_mask(t.column("doc_id").to_numpy(),
                                       tombstones)))


def _purge_docmap_file(src: str, dst: str, tombstones: np.ndarray) -> bool:
    """One docmap file without its tombstoned rows: ``src`` rewritten to
    ``dst`` with each affected row group filtered by ``live_mask`` (rows
    stay url-sorted, so the ingest's url-stat pruning still holds).
    Returns whether some row group held a tombstone."""
    return _rewrite_file(src, dst, "doc_id", "doc_id", tombstones,
                         _live_docmap_rows, use_dictionary=["bucket"],
                         **_REWRITE_OPTS)


# The public name of the per-file docmap purge. ``purge_level0``'s tasks
# call the private names, so a driver-side wrapper put on this attribute
# is never pickled into a task.
purge_docmap = _purge_docmap_file


def _live_blocks(t, tombstones: np.ndarray):
    """Level-0 blocks without their tombstoned postings. Blocks whose
    [doc_id_lo, doc_id_hi] holds no tombstone pass as they are; only
    the others are bulk-decoded straight from the Arrow binary buffers,
    filtered and re-encoded, one output block per surviving input block
    (same bucket/term/block_id, stats recomputed, row order kept); a
    fully deleted block drops out."""
    import pyarrow as pa

    affected = _holds_tombstone(t.column("doc_id_lo").to_numpy(),
                                t.column("doc_id_hi").to_numpy(), tombstones)
    aff_rows = np.flatnonzero(affected)
    if aff_rows.size == 0:
        return t
    aff = t.take(pa.array(aff_rows)).combine_chunks()
    ids, tfs, dls, blk = decode_blocks_bulk(
        *(binary_stream(aff.column(c).chunk(0)) for c in _PAYLOAD_COLS),
        aff.column("n").to_numpy())
    keep = live_mask(ids, tombstones)
    # One "term" per source block → encode_posting_frame emits exactly
    # one ≤block_size output block per surviving input block, in order.
    enc = encode_posting_frame(blk[keep], ids[keep], tfs[keep], dls[keep])
    src = pa.array(enc["term_code"])  # source block ordinal in ``aff``
    rebuilt = pa.Table.from_arrays(
        [
            pa.array(enc[f.name], f.type)
            if f.name in _STAT_COLS or f.name in _PAYLOAD_COLS
            else aff.column(f.name).take(src)
            for f in t.schema
        ],
        schema=t.schema,
    )
    order = np.argsort(np.concatenate(
        (np.flatnonzero(~affected), aff_rows[enc["term_code"]])
    ), kind="stable")
    return pa.concat_tables(
        [t.filter(pa.array(~affected)), rebuilt]
    ).take(pa.array(order))


def _purge_level0_file(src: str, dst: str, tombstones: np.ndarray) -> bool:
    """One level-0 file without its tombstoned postings (``_live_blocks``
    per affected row group); returns whether some row group held a
    tombstone."""
    return _rewrite_file(src, dst, "doc_id_lo", "doc_id_hi", tombstones,
                         _live_blocks, **_REWRITE_OPTS)


def _slices_by_bytes(files: list[tuple], n: int) -> list[list[tuple]]:
    """``files`` ((kind, src, dst, size) tuples) in ≤ n slices of about
    equal bytes: largest first onto the lightest slice."""
    import heapq

    heap = [(0, i) for i in range(min(n, len(files)))]
    slices = [[] for _ in heap]
    for f in sorted(files, key=lambda f: (-f[3], f[1])):
        size, i = heapq.heappop(heap)
        slices[i].append(f)
        heapq.heappush(heap, (size + f[3], i))
    return slices


def purge_level0(spark: SparkSession, layout: IndexLayout,
                 tombstones: np.ndarray) -> tuple[str, str]:
    """Write the level-0 segments and the docmap without their
    tombstoned postings and rows into a new level-0 and a new docmap
    directory, and return both (level-0 first).

    ONE Spark job over the two directories' file list, planned without
    a shuffle: ``spark.range(n, numPartitions=n)``, one task per slice
    of files balanced by bytes over ``defaultParallelism``. Each task
    streams its files row group by row group with pyarrow
    (``_purge_level0_file``, ``_purge_docmap_file``) into the same
    relative path under the new directory. The tombstones travel in the task closure (no broadcast file), and
    the driver makes every output directory before the job."""
    from ..sidecar import _list_parquet_files

    files = []
    outs = (layout.level0_artifact(), layout.artifact("docmap"))
    for kind, src_root, dst_root in zip(("level0", "docmap"),
                                        (layout.postings_l0, layout.docmap),
                                        outs):
        os.makedirs(dst_root)
        for src in _list_parquet_files(src_root):
            dst = os.path.join(dst_root, os.path.relpath(src, src_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            files.append((kind, src, dst, os.path.getsize(src)))
    slices = _slices_by_bytes(files, spark.sparkContext.defaultParallelism)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            for i in batch.column("id").to_numpy():
                purged = sum(
                    (_purge_docmap_file if kind == "docmap"
                     else _purge_level0_file)(src, dst, tombstones)
                    for kind, src, dst, _ in slices[i]
                )
                yield pa.RecordBatch.from_pydict(
                    {"purged": pa.array([purged], pa.int64())})

    if slices:
        n = len(slices)
        spark.range(n, numPartitions=n).mapInArrow(
            run, "purged long").collect()
    return outs
