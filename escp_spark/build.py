"""Index build pipeline — the escp copy-job analog (jobs/escopyjob.go:83-216).

Where escp scans an ES index and bulk-writes documents into another ES index
(letting Lucene build the inverted index), this pipeline scans the
``web_pages`` corpus and builds the inverted index itself, Spark-first:

  scan → last-write-wins dedup → html→text extraction (Arrow UDF) →
  deterministic md5 bucketing → per-bucket kernel (applyInPandas, numpy
  codec: docid assignment, the bucket's docmap file, its level-0 posting
  blocks) → dictionary/stats aggregation → merge → atomic publish

escp behaviors carried over:
- **Resumable units of work** (esscroll.go:129 + 293-294 "Continue" stub →
  realized): work is split into ``n_groups`` bucket groups; each group's
  artifacts are written idempotently (overwrite of a group-scoped dir) and
  recorded in an append-only checkpoint **ledger** with doc/byte counters
  and input-snapshot lineage. A restarted build anti-joins the ledger and
  skips committed groups.
- **Doc/byte counters + progress** (esscroll.go:197-275): per-group log
  lines and ledger columns ``docs``/``bytes``.
- **Explicit parallelism/skew control** (cmd/escp/main.go:103-105,
  estypes.go:104-116): ``n_buckets`` is the shard-count analog; buckets are
  md5-uniform over urls so segment build has no key skew by construction;
  per-term skew inside a bucket is bounded by the bucket's doc count.
- **Build-then-optimize lifecycle** (escopyjob.go:139-141/183-195 +
  esindex/optimize.go:13-28): level-0 segments are merged down to
  ``max_segments`` (the ``-maxsegs`` analog, default 5) and the index only
  becomes visible via the final atomic manifest publish.
- **Last-write-wins on duplicate ids** (esbulk/bulktypes.go:28-30), made
  deterministic: latest ``warc_ts`` wins, ties broken by md5(html).

Scale notes (the 10^12-doc design point):
- One wide shuffle total: the url-hash dedup exchange, materialized once
  to staging partitioned by checkpoint group (stage ``shuffle``). The
  CPU-heavy html→text extraction runs inside that wide pass, so staging
  stores text and the corpus is read and written exactly once. A
  mid-segment failure never recomputes the corpus-wide shuffle.
- Each checkpoint group is ONE Spark job: a pruned staging scan grouped
  by bucket into one ``applyInPandas`` kernel per bucket. The kernel
  sorts its bucket's urls once, assigns docid = bucket<<40 | rank, writes
  the bucket's docmap file itself (pyarrow, deterministic name, temp +
  rename) and returns its posting blocks, which the job writes as the
  group's level-0. Memory per task is one bucket's text + postings;
  choose ``n_buckets`` ≈ corpus_bytes / (executor_mem /
  tasks_per_executor). Buckets are hash-uniform, so no straggler buckets
  (cf. estypes.go:104-116 skew heuristic).
- The merge is *metadata-level*: per-bucket docid ranges are disjoint and
  ordered (docid = bucket<<40 | rank), so concatenating per-bucket posting
  blocks in bucket order yields a globally sorted posting list with no
  decode/re-encode. The physical merge is ONE exchange by placement
  partition + sortWithinPartitions into an Arrow kernel that
  consolidates tails and writes the files with pyarrow — embarrassingly
  parallel, no single-task whole-term materialization even for the
  hottest term.
"""

from __future__ import annotations

import logging
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .analyzer import ANALYZER_VERSION, extract_text, tokenize
from .functions.fmt import iec_format
from .codec import (
    BLOCK_SIZE,
    CODEC_VERSION,
    binary_stream,
    decode_blocks_bulk,
    encode_posting_frame,
)
from .sources.tables import (
    INDEX_LAYOUT_VERSION,
    IndexLayout,
    input_snapshot_fingerprint,
    publish_manifest,
    read_web_pages,
)

log = logging.getLogger("escp_spark.build")

DOC_BUCKET_SHIFT = 40  # docid = bucket << 40 | rank-within-bucket
MERGE_BLOCK_SHIFT = 20  # merged block_id = bucket << 20 | level0 block_id

# Parquet row-group size of the PUBLISHED postings: the row group is the
# serving path's physical I/O skip unit (a column chunk is read whole), so
# small row groups = fine-grained payload skipping for pruned docid
# windows — the Lucene skip-block analog. 8 MB keeps footer overhead
# negligible while a hot term's posting list spans many row groups in
# docid order at scale.
POSTINGS_ROW_GROUP_BYTES = 8 << 20


def postings_write_options() -> dict[str, str]:
    """Spark parquet-writer options of a streamed epoch's level-0 write,
    the one servable postings write Spark's writer still does: a
    finalize publishes that level-0 as it is. (The merge writes its
    files with pyarrow, ``_MergedFileWriter``, to the same row-group
    target.) parquet-mr only checks the accumulated size every N rows
    (default 100), so the interval scales with the target and small row
    groups (tests, fine-grained indexes) are honored."""
    return {
        "parquet.block.size": str(POSTINGS_ROW_GROUP_BYTES),
        "parquet.page.size.row.check.min":
            str(max(4, min(100, POSTINGS_ROW_GROUP_BYTES // (64 * 1024)))),
    }


# The merge's hot-term cut in level-0 blocks (rationale in merge_segments).
_HOT_TERM_BLOCKS = 4096

# Docmap is a point-lookup table at serve time (doc_id → url): small row
# groups keep the read amplification of a ≤k-id lookup bounded.
DOCMAP_ROW_GROUP_BYTES = 2 << 20

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("doc_id_lo", T.LongType(), False),
        T.StructField("doc_id_hi", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
    ]
)

# The docmap rows (``_write_bucket_docmap``): every read gives this
# schema, so no Spark job reads a footer to infer it.
DOCMAP_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
    ]
)

# The build's staging rows (``staged_corpus``) as a read sees them: the
# files hold url, bucket, text and lang, and ``grp`` is the partition
# directory, typed here so the group filter still prunes directories.
STAGING_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("grp", T.IntegerType()),
    ]
)

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("build_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),  # bucket group
        T.StructField("stage", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("segment_path", T.StringType(), False),
        T.StructField("docs", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("input_snapshot", T.StringType(), False),
    ]
)


# --------------------------------------------------------------------------
# Relational stages (pure Catalyst — no Python)
# --------------------------------------------------------------------------

def bucket_expr(col, n_buckets: int):
    """Deterministic bucket = int(md5(url)[:8], 16) % n_buckets.

    md5 (not xxhash64/crc32) because the same rule must be reproducible in
    the pure-Python oracle and in DuckDB oracle SQL
    (``conv(substring(md5(url),1,8),16,10) % n``)."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets).cast("int")


def dedup_last_write_wins(df: DataFrame) -> DataFrame:
    """Keep the newest version of each url (bulktypes.go:28-30 analog,
    deterministic: warc_ts desc, then md5(html) desc).

    Implemented as max_by over a struct ordering key, NOT a row_number
    window: the aggregate gets map-side partial aggregation (duplicates
    collapse before the shuffle) and needs no full sort of the payload —
    the window variant cost ~600 core-s + heavy GC on a 2M-doc corpus.
    """
    cols = df.columns
    key = F.struct(F.col("warc_ts"), F.md5(F.col("html")).alias("__tie"))
    picked = df.groupBy("url").agg(
        F.max_by(F.struct(*[F.col(c) for c in cols if c != "url"]), key).alias("__row")
    )
    return picked.select("url", *[F.col(f"__row.{c}") for c in cols if c != "url"])


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-vectorized html→text (B2); byte-identical per url by the
    analyzer's invertible-wrapper contract (esdiff.go:80-82 analog)."""
    return html.map(extract_text)


def staged_corpus(pages: DataFrame, n_buckets: int, n_groups: int,
                  source_filter: str | None = None) -> DataFrame:
    """The build's one wide pass, as staging stores it: filter → LWW
    dedup → md5 bucket and checkpoint group → html→text extraction.

    Catalyst pushes ``source_filter`` into the corpus scan
    (plan-asserted in tests/test_plans.py). The corpus ``text`` column
    is dropped BEFORE the dedup aggregate: text is re-derived from html
    by the byte-identical extractor, and the aggregate's max_by struct
    would otherwise carry it through the exchange (guide §2.3 "project
    before the exchange"; ~45% fewer dedup-exchange bytes on the bench
    corpus, where text ≈ html payload). Extraction runs on the
    post-dedup stage tasks, so the html is never written anywhere."""
    if source_filter:
        pages = pages.filter(F.expr(source_filter))
    return (
        dedup_last_write_wins(pages.drop("text"))
        .withColumn("bucket", bucket_expr(F.col("url"), n_buckets))
        .withColumn("grp", F.col("bucket") % n_groups)
        .withColumn("text", extract_text_udf(F.col("html")))
        .select("url", "bucket", "grp", "text", "lang")
    )


def group_segments(spark: SparkSession, staged_dir: str, group: int,
                   docmap_dir: str) -> DataFrame:
    """The plan of one checkpoint group's one Spark job: the group's
    staged rows through the per-bucket kernel, which writes the group's
    docmap files into ``docmap_dir`` and returns its level-0 blocks."""
    part = (
        spark.read.schema(STAGING_SCHEMA).parquet(staged_dir)
        .filter(F.col("grp") == group)
        .select("url", "bucket", "text")
    )
    return build_segments(part, docmap_dir)


# --------------------------------------------------------------------------
# Segment build (applyInPandas per bucket; numpy inside — B5/B6/B7)
# --------------------------------------------------------------------------

def docmap_file_name(bucket: int) -> str:
    """The one docmap file of ``bucket`` inside its group directory."""
    return f"bucket-{bucket:05d}.parquet"


def _write_bucket_docmap(docmap_dir: str, bucket: int, urls: np.ndarray,
                         doc_ids: np.ndarray) -> None:
    """Write one bucket's ``(bucket, url, doc_id)`` rows (url order ==
    doc_id order) as ``docmap_dir/bucket-NNNNN.parquet``. The name
    depends only on the bucket and the bytes only on its rows, and the
    file appears by rename from a hidden temp name: a retried or
    speculative task rewrites the same bytes, and no reader ever lists a
    partial file."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "bucket": pa.array(np.full(len(urls), bucket, dtype=np.int32)),
        "url": pa.array(urls, pa.string()),
        "doc_id": pa.array(doc_ids.astype(np.int64)),
    })
    name = docmap_file_name(bucket)
    tmp = os.path.join(docmap_dir, f".{name}.{uuid.uuid4().hex}")
    # Dictionary-encode only the constant bucket column (url and doc_id
    # are unique) and skip the Arrow schema footer: ~1/3 smaller files.
    pq.write_table(
        tbl, tmp, compression="zstd", use_dictionary=["bucket"],
        store_schema=False,
        row_group_size=max(
            1, DOCMAP_ROW_GROUP_BYTES * tbl.num_rows // max(tbl.nbytes, 1)
        ),
    )
    os.replace(tmp, os.path.join(docmap_dir, name))


def _build_bucket_segment(pdf: pd.DataFrame, docmap_dir: str) -> pd.DataFrame:
    """One bucket → its docmap file and its encoded posting blocks.

    docid = bucket<<40 | rank(url within bucket) is assigned here, once:
    the bucket's docmap rows are written (``_write_bucket_docmap``)
    before any tokenizing, so a bucket whose docs have no tokens keeps
    its docs. Postings are vectorized: one sort over all (term, docid)
    token pairs of the bucket, run-length tf counting, per-term block
    encoding with the numpy codec."""
    bucket = int(pdf["bucket"].iloc[0])
    pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    base = np.uint64(bucket) << np.uint64(DOC_BUCKET_SHIFT)
    doc_ids = base + np.arange(len(pdf), dtype=np.uint64)
    _write_bucket_docmap(docmap_dir, bucket, pdf["url"].to_numpy(), doc_ids)

    tok_lists = [tokenize(t or "") for t in pdf["text"]]
    dls = np.array([len(t) for t in tok_lists], dtype=np.uint64)
    total = int(dls.sum())
    if total == 0:
        return pd.DataFrame({f.name: pd.Series(dtype="object") for f in POSTINGS_SCHEMA})

    all_terms = np.empty(total, dtype=object)
    pos = 0
    for toks in tok_lists:
        all_terms[pos : pos + len(toks)] = toks
        pos += len(toks)

    # Factorize terms to int codes (C-speed), sorted so segment output is
    # term-ordered. Sort ONE composite int64 key (term_code * n_docs +
    # doc_index) instead of a lexsort over two arrays — fewer temporaries
    # and a single radix-friendly pass (allocation pressure inside workers
    # is the measured bottleneck on this class of VM, not arithmetic).
    # (An Arrow-compute alternative — utf8_lower → split_pattern_regex →
    # dictionary_encode — was A/B'd round 4: identical output, ~15%
    # SLOWER than findall+factorize on this corpus; per-doc regex is not
    # the bottleneck of this kernel.)
    term_codes, term_uniques = pd.factorize(all_terms, sort=True)
    del all_terms
    n_docs_b = len(pdf)
    doc_idx = np.repeat(np.arange(n_docs_b, dtype=np.int64), dls.astype(np.int64))
    key = term_codes.astype(np.int64) * n_docs_b + doc_idx
    key.sort()
    # Run boundaries of (term, doc) keys → tf per pair.
    new_pair = np.empty(total, dtype=bool)
    new_pair[0] = True
    new_pair[1:] = key[1:] != key[:-1]
    starts = np.flatnonzero(new_pair)
    tf = np.diff(np.append(starts, total)).astype(np.uint64)
    u_key = key[starts]
    u_term = (u_key // n_docs_b).astype(np.int64)
    u_doc_idx = (u_key % n_docs_b).astype(np.int64)
    u_doc = doc_ids[u_doc_idx]
    u_dl = dls[u_doc_idx]

    # One vectorized pass encodes every term's blocks (no per-term loop).
    enc = encode_posting_frame(u_term, u_doc, tf, u_dl)
    out = pd.DataFrame(
        {
            "bucket": np.full(enc["n"].size, bucket, dtype=np.int64),
            "term": np.asarray(term_uniques)[enc["term_code"]],
            "block_id": enc["block_id"],
            "n": enc["n"],
            "doc_id_lo": enc["doc_id_lo"],
            "doc_id_hi": enc["doc_id_hi"],
            "max_tf": enc["max_tf"],
            "min_dl": enc["min_dl"],
            "sum_tf": enc["sum_tf"],
            "doc_ids": enc["doc_ids"],
            "tfs": enc["tfs"],
            "dls": enc["dls"],
        }
    )
    return out[[f.name for f in POSTINGS_SCHEMA]]


def build_segments(df: DataFrame, docmap_dir: str) -> DataFrame:
    """Per-bucket level-0 segment build. Input: url, bucket, text. The
    returned plan's one action also writes each bucket's docmap file
    into ``docmap_dir``, which must exist and should be empty."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _build_bucket_segment(pdf, docmap_dir)

    return df.groupBy("bucket").applyInPandas(kernel, POSTINGS_SCHEMA)


def drop_empty_parquet_files(directory: str) -> None:
    """Unlink the zero-row parquet files of one Spark write's directory
    (an empty first output partition still writes a file, to carry the
    schema), keeping one only when every file is empty, so the schema
    survives. Footer metadata only; no Spark job."""
    import pyarrow.parquet as pq

    from .sidecar import _list_parquet_files

    files = _list_parquet_files(directory)
    empty = [f for f in files if pq.read_metadata(f).num_rows == 0]
    for f in empty[1:] if len(empty) == len(files) else empty:
        os.unlink(f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.unlink(crc)


# --------------------------------------------------------------------------
# Ledger (checkpoint/resume — B10)
# --------------------------------------------------------------------------

def _ledger_append(spark: SparkSession, layout: IndexLayout, rows: list[dict]):
    """Append-only checkpoint commit. The ledger is tiny driver-side
    metadata (one row per unit of work — escp's scroll-progress analog),
    so it's written directly with pyarrow: no Spark job, and the
    write+rename is atomic per commit."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("build_id", pa.string()), ("partition_id", pa.int32()),
        ("stage", pa.string()), ("status", pa.string()),
        ("segment_path", pa.string()), ("docs", pa.int64()),
        ("bytes", pa.int64()), ("input_snapshot", pa.string()),
    ])
    table = pa.Table.from_pylist(rows, schema=schema)
    tmp = os.path.join(layout.ledger, f".tmp-{uuid.uuid4().hex}")
    dst = os.path.join(layout.ledger, f"commit-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, dst)


def _ledger_pandas(layout: IndexLayout):
    import pyarrow.dataset as pads

    if not os.path.isdir(layout.ledger):
        return None
    files = [
        os.path.join(layout.ledger, f)
        for f in os.listdir(layout.ledger)
        if f.endswith(".parquet")
    ]
    if not files:
        return None
    return pads.dataset(files, format="parquet").to_table().to_pandas()


def read_ledger(spark: SparkSession, layout: IndexLayout) -> DataFrame:
    pdf = _ledger_pandas(layout)
    if pdf is None:
        return spark.createDataFrame([], LEDGER_SCHEMA)
    pdf = pdf.drop_duplicates(["build_id", "partition_id", "stage"])
    return spark.createDataFrame(pdf, LEDGER_SCHEMA)


def committed_groups(
    spark: SparkSession, layout: IndexLayout, stage: str, snapshot: str
) -> set[int]:
    pdf = _ledger_pandas(layout)
    if pdf is None:
        return set()
    m = (
        (pdf["build_id"] == layout.build_id)
        & (pdf["stage"] == stage)
        & (pdf["status"] == "committed")
        & (pdf["input_snapshot"] == snapshot)
    )
    return set(pdf.loc[m, "partition_id"].astype(int).tolist())


class SimulatedFailure(RuntimeError):
    """Raised by build_index(fail_after_groups=k) — the resume-test kill
    switch (SURVEY.md §5.4)."""


@contextmanager
def _scoped_conf(spark: SparkSession, settings: dict):
    """Set runtime SQL confs for one job scope and restore afterwards —
    scan-split sizing is a per-workload decision (VERDICT r03 #1: a
    session-global 32 MB maxPartitionBytes multiplied task count on
    every small relational query in the bench), so the build sets it
    only around its own scans."""
    saved = {}
    for k, v in settings.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Corpus-scan split ceiling for the build's wide pass: with the 128 MB
# default a 350 MB corpus file yields THREE map tasks — the whole
# scan+dedup stage then tops out at 3-way parallelism regardless of
# cores (measured: the shuffle stage scaled 2.1× from 2→8 cores).
# 32 MB splits let split count track row groups (corpus files use
# 64k-row ≈ 43 MB row groups). Scoped to the build scan — NOT session
# config (VERDICT r03 #1).
_CORPUS_SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
}

# Group-scoped staging reads (segment stage): staging group dirs hold
# up to shuffle-partitions smallish files; small splits + low open cost
# keep the group scan and its bucket-shuffle write at full core
# parallelism instead of bin-packing the whole group into a couple of
# tasks.
_GROUP_SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(1 * 1024 * 1024),
}


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of an INT column value (the hash behind
    ``repartition``/``groupBy`` hash partitioning — Murmur3_x86_32
    hashInt with Spark's seed 42), reimplemented for DRIVER-SIDE
    partition-count planning. Asserted equal to ``F.hash`` in
    tests/test_e2e_index.py. Correctness never depends on it — a
    mismatch only costs balance."""
    mask = 0xFFFFFFFF
    k1 = (x & mask) * 0xCC9E2D51 & mask
    k1 = ((k1 << 15) | (k1 >> 17)) & mask
    k1 = k1 * 0x1B873593 & mask
    h1 = (seed ^ k1) & mask
    h1 = ((h1 << 13) | (h1 >> 19)) & mask
    h1 = (h1 * 5 + 0xE6546B64) & mask
    h1 ^= 4  # total bytes hashed
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & mask
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & mask
    h1 ^= h1 >> 16
    return h1 - 0x100000000 if h1 >= 0x80000000 else h1


def _balanced_shuffle_partitions(key_groups: list[list[int]],
                                 default_n: int, key_type) -> int:
    """Pick the shuffle-partition count for the per-bucket kernel stages.

    ``groupBy("bucket").applyInPandas`` hash-partitions ~P atomic bucket
    kernels into spark.sql.shuffle.partitions bins; with P keys in P
    bins, balls-into-bins puts 3-4 buckets on one task — a 3-4×
    straggler on an otherwise perfectly uniform stage (guide §2.5,
    "synthetic partitioning keys with too few distinct values": use more
    bins than keys). Spark's key→partition map is pmod(Murmur3(key), n),
    known driver-side, so scan n ∈ [default_n, 3·default_n] and take the
    smallest n minimizing the worst per-group max-load (each group's
    segment job sees only that group's buckets). Beyond 3× the
    empty-task scheduling overhead outweighs the remaining load-2 tail.

    ``key_type`` is the Spark type of the grouping column. The planner
    models Spark's hashInt (bucket_expr casts to int); a long key is
    hashed with hashLong, so any other type raises instead of silently
    planning the wrong balance.
    """
    if not isinstance(key_type, T.IntegerType):
        raise TypeError(
            f"balanced shuffle planning models an int key, got {key_type}"
        )
    # With keys ≫ bins the hash balance is already smooth (relative load
    # variance ~ 1/sqrt(keys/bins)) and the scan would cost O(n·keys)
    # driver time for nothing — the straggler this fixes only exists
    # when #keys per group is O(bins).
    if min((len(ks) for ks in key_groups if ks), default=0) >= 8 * default_n:
        return default_n
    hashed = [[_murmur3_int32(k) for k in ks] for ks in key_groups if ks]
    if not hashed:
        return default_n
    best_n, best_load = default_n, max(len(ks) for ks in hashed)
    for n in range(default_n, default_n * 3 + 1):
        load = 0
        for hs in hashed:
            counts: dict[int, int] = {}
            for h in hs:
                p = h % n  # python floor-mod == Spark pmod for n > 0
                counts[p] = counts.get(p, 0) + 1
            load = max(load, max(counts.values()))
        if load < best_load:
            best_n, best_load = n, load
            if load == 1:
                break
    return best_n


# Wall-clock per stage of the most recent build_index call (M1/M2-style
# telemetry; bench.py and perfbench read it).
last_build_timings: dict = {}

# Finer-grained driver-wall attribution of the most recent build — one
# entry per Spark action / driver-side step inside each stage
# (shuffle_write, segment_write, merge_placement, merge_write, …).
last_build_detail: dict = {}


@contextmanager
def _detail(key: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        last_build_detail[key] = round(
            last_build_detail.get(key, 0.0) + (time.perf_counter() - t0), 3,
        )


# --------------------------------------------------------------------------
# Merge (D5 force-merge analog — esindex/optimize.go:13-28: postings get
# CONTIGUOUS, not just concatenated)
# --------------------------------------------------------------------------

# The merge's rows: level-0 columns with the segment for the bucket.
_MERGED_COLS = ["segment"] + [f.name for f in POSTINGS_SCHEMA
                              if f.name != "bucket"]

# Consolidated blocks get ids above every bucket<<20|id label (bucket is
# int32): block_id is a unique label only — no reader orders by it.
CONSOLIDATED_BLOCK_BASE = 1 << 60

# The merged postings files are written with zstd at parquet-mr's
# default level (3, what Spark wrote them with) and no Arrow schema
# footer. Only the integer columns and ``tfs`` are dictionary-encoded:
# pyarrow's default also encodes ``term``, ``doc_ids`` and ``dls``.
# Measured on a compacted 3-epoch perfbench ``update`` index: Spark's
# writer 1,274,560 B, pyarrow's default dictionary 1,369,234 B, these
# settings 1,254,609 B (and 1,179,797 → 1,167,736 B against Spark's on
# the 5,000-doc ``index`` build).
_MERGED_WRITE_OPTS = {
    "compression": "zstd", "compression_level": 3, "store_schema": False,
    "use_dictionary": ["block_id", "n", "doc_id_lo", "doc_id_hi", "max_tf",
                       "min_dl", "sum_tf", "tfs"],
}


def _seg_shift(n_buckets: int, max_segments: int) -> int:
    """Power-of-two bucket-group width giving ≤ max_segments segments.
    Segments are then CONTIGUOUS bucket (hence docid) ranges, so
    segment id == doc_id >> (DOC_BUCKET_SHIFT + shift) — the property
    that lets consolidated blocks keep a valid pruning window."""
    shift = 0
    while ((n_buckets - 1) >> shift) + 1 > max_segments:
        shift += 1
    return shift


def _group_starts(tbl) -> np.ndarray:
    """Per row of a (segment, term)-sorted table: does a new (segment,
    term) group start here?"""
    import pyarrow.compute as pc

    n_rows = tbl.num_rows
    new = np.ones(n_rows, dtype=bool)
    if n_rows > 1:
        seg = tbl.column("segment").to_numpy()
        term = tbl.column("term")
        new[1:] = (seg[1:] != seg[:-1]) | pc.not_equal(
            term.slice(1), term.slice(0, n_rows - 1)
        ).to_numpy(zero_copy_only=False)
    return new


def _consolidate_tails(tails):
    """Re-block the tail fragments (n < BLOCK_SIZE) of whole (segment,
    term) groups, Arrow-native (zero per-row Python objects; the earlier
    applyInPandas version materialized ~5M python str/bytes objects per
    500k-doc merge and spent ~50 s in object churn — measured 48 s →
    ~3 s).

    ``tails`` is sorted by (segment, term, doc_id_lo) and holds every
    tail of each of its groups. For each group with ≥2 tails:
    bulk-decode straight from the Arrow binary buffers (the values of a
    combined BinaryArray are already back-to-back, so the codec's
    concatenated-stream decode needs no per-block bytes), concatenate
    (already docid-sorted — tails are ≤1 per source bucket and bucket
    docid ranges are disjoint and ordered), re-encode into
    ⌈total/BLOCK_SIZE⌉ contiguous blocks — afterwards ≤1 block per
    (segment, term) has n < BLOCK_SIZE. Single-tail groups pass through
    untouched.

    Returns the output rows in group order, with ``tails``' schema, and
    per output row the ``tails`` row of its group's first tail.

    Bounded regardless of corpus size: a term has ≤1 tail per bucket, so
    a group holds ≤ n_buckets × (BLOCK_SIZE−1) postings."""
    import pyarrow as pa

    n_rows = tails.num_rows
    if n_rows == 0:
        return tails, np.empty(0, dtype=np.int64)
    tails = tails.combine_chunks()
    grp_id = np.cumsum(_group_starts(tails)) - 1
    multi = np.bincount(grp_id)[grp_id] > 1
    singles = np.flatnonzero(~multi)
    midx = np.flatnonzero(multi)
    if midx.size == 0:
        return tails, singles
    sub = tails.take(pa.array(midx)).combine_chunks()
    ns = sub.column("n").to_numpy()
    payloads = [sub.column(c).chunk(0) for c in ("doc_ids", "tfs", "dls")]
    sub_grp = grp_id[midx]  # nondecreasing
    bump = sub_grp[1:] != sub_grp[:-1]
    codes = np.cumsum(np.concatenate(([0], bump.astype(np.int64))))
    starts = np.flatnonzero(np.concatenate(([True], bump)))

    # Chunk decode+re-encode at GROUP boundaries, ~64k postings per
    # chunk: keeps every temporary a couple of MB and arena-reusable —
    # the one-shot whole-partition variant allocated ~100 MB of fresh
    # pages per task and this host's first-touch fault storm made the
    # arithmetic irrelevant (27.9 s cold vs 0.96 s warm, measured; same
    # pathology and fix as the minhash kernel — see CLAUDE.md).
    row_off = np.concatenate(([0], np.cumsum(ns)))
    g_bounds = np.append(starts, len(midx))
    g_pair_start = row_off[g_bounds[:-1]]
    chunk_of_group = g_pair_start // (1 << 16)
    out_meta: dict[str, list] = {k: [] for k in (
        "src", "block_id", "n", "doc_id_lo", "doc_id_hi",
        "max_tf", "min_dl", "sum_tf",
    )}
    out_bufs: dict[str, list] = {"doc_ids": [], "tfs": [], "dls": []}
    for c in np.unique(chunk_of_group):
        gsel = np.flatnonzero(chunk_of_group == c)
        r0, r1 = g_bounds[gsel[0]], g_bounds[gsel[-1] + 1]
        ids, tfs, dls, blk = decode_blocks_bulk(
            *(binary_stream(a, r0, r1) for a in payloads), ns[r0:r1],
        )
        enc = encode_posting_frame(
            (codes[r0:r1] - codes[r0])[blk], ids, tfs, dls
        )
        out_meta["src"].append(starts[enc["term_code"] + codes[r0]])
        for k in ("block_id", "n", "doc_id_lo", "doc_id_hi",
                  "max_tf", "min_dl", "sum_tf"):
            out_meta[k].append(enc[k])
        for k in out_bufs:
            out_bufs[k].extend(enc[k])
    src = np.concatenate(out_meta["src"])

    def col(name, values):
        return pa.array(values, tails.schema.field(name).type)

    def cat(k):
        return np.concatenate(out_meta[k])

    consolidated = pa.Table.from_arrays(
        [
            sub.column("segment").take(pa.array(src)),
            sub.column("term").take(pa.array(src)),
            col("block_id", CONSOLIDATED_BLOCK_BASE + cat("block_id")),
            col("n", cat("n").astype(np.int32)),
            col("doc_id_lo", cat("doc_id_lo")),
            col("doc_id_hi", cat("doc_id_hi")),
            col("max_tf", cat("max_tf").astype(np.int32)),
            col("min_dl", cat("min_dl").astype(np.int32)),
            col("sum_tf", cat("sum_tf")),
            col("doc_ids", out_bufs["doc_ids"]),
            col("tfs", out_bufs["tfs"]),
            col("dls", out_bufs["dls"]),
        ],
        schema=tails.schema,
    )
    first = np.concatenate((singles, midx[src]))
    order = np.argsort(first, kind="stable")
    return (pa.concat_tables([tails.take(pa.array(singles)), consolidated])
            .take(pa.array(order)), first[order])


class _MergedFileWriter:
    """The postings files of ONE merge partition: per segment it holds,
    ``segment=S/part-PPPPP.parquet`` (P = the partition), one
    ``pq.ParquetWriter`` at a time (rows arrive segment-sorted). The
    name depends only on the partition and the bytes only on its rows,
    and the file appears by rename from a hidden temp name, so a retried
    or speculative task rewrites the same bytes and no reader lists a
    partial file. Row groups close at ``row_group_bytes`` of Arrow data
    (the Spark writer's ``parquet.block.size`` role)."""

    def __init__(self, out_dir: str, part: int, row_group_bytes: int):
        self.out_dir, self.part = out_dir, part
        self.row_group_bytes = row_group_bytes
        self.segment, self.writer, self.tmp = None, None, None
        self.pending, self.pending_bytes, self.rows = [], 0, 0
        self.files: list[tuple[int, int]] = []  # (segment, rows) written

    def write(self, tbl) -> None:
        """Append (segment, term)-sorted merged rows."""
        seg = tbl.column("segment").to_numpy()
        cuts = np.flatnonzero(seg[1:] != seg[:-1]) + 1
        for a, b in zip(np.append(0, cuts), np.append(cuts, len(seg))):
            if seg[a] != self.segment:
                self.close()
                self._open(int(seg[a]))
            self._append(tbl.slice(a, b - a).drop_columns(["segment"]))

    def _open(self, segment: int) -> None:
        import uuid

        self.segment = segment
        d = os.path.join(self.out_dir, f"segment={segment}")
        os.makedirs(d, exist_ok=True)
        self.tmp = os.path.join(
            d, f".part-{self.part:05d}.parquet.{uuid.uuid4().hex}")

    def _append(self, tbl) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        size = np.zeros(tbl.num_rows, dtype=np.int64)
        for field, column in zip(tbl.schema, tbl.columns):
            if pa.types.is_primitive(field.type):
                size += field.type.bit_width // 8
            else:
                size += pc.binary_length(column).to_numpy()
        cum = np.cumsum(size) + self.pending_bytes
        start, base = 0, 0
        while True:
            end = int(np.searchsorted(cum, base + self.row_group_bytes)) + 1
            if end > tbl.num_rows:
                break
            self.pending.append(tbl.slice(start, end - start))
            self._flush()
            start, base = end, cum[end - 1]
        if start < tbl.num_rows:
            self.pending.append(tbl.slice(start))
        self.pending_bytes = int(cum[-1] - base)

    def _flush(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rg = pa.concat_tables(self.pending).combine_chunks()
        self.pending, self.pending_bytes = [], 0
        if self.writer is None:
            self.writer = pq.ParquetWriter(self.tmp, rg.schema,
                                           **_MERGED_WRITE_OPTS)
        self.writer.write_table(rg, row_group_size=rg.num_rows)
        self.rows += rg.num_rows

    def close(self) -> None:
        """Finish the open segment's file, if any."""
        if self.pending:
            self._flush()
        if self.writer is not None:
            self.writer.close()
            name = f"part-{self.part:05d}.parquet"
            os.replace(self.tmp, os.path.join(os.path.dirname(self.tmp), name))
            self.files.append((self.segment, self.rows))
        self.segment, self.writer, self.tmp, self.rows = None, None, None, 0


def _write_merged_partition(batches, out_dir: str, part: int,
                            row_group_bytes: int) -> list[tuple[int, int]]:
    """The merge's write kernel over ONE partition's rows (``_MERGED_COLS``,
    sorted by segment, term, doc_id_lo; every tail of a (segment, term)
    group in this partition). Streams them into ``_MergedFileWriter``:
    full blocks pass through, and each group's tails are consolidated
    (``_consolidate_tails``) when the group ends and written right after
    its full blocks, so each file stays term-sorted. Only the open
    group's tails are held across batches. Returns the (segment, rows)
    of the files written."""
    import pyarrow as pa

    out = _MergedFileWriter(out_dir, part, row_group_bytes)

    def emit(tbl, gid, closed_tail):
        full = np.flatnonzero(tbl.column("n").to_numpy() == BLOCK_SIZE)
        ti = np.flatnonzero(closed_tail)
        merged, src = _consolidate_tails(tbl.take(pa.array(ti)))
        order = np.lexsort((
            np.repeat([0, 1], [full.size, merged.num_rows]),
            np.concatenate((gid[full], gid[ti][src])),
        ))
        rows = pa.concat_tables([tbl.take(pa.array(full)), merged])
        if rows.num_rows:
            out.write(rows.take(pa.array(order)))

    carry = None  # the tails of the group still open at the last batch
    for batch in batches:
        if batch.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([batch]).select(_MERGED_COLS)
        if carry is not None:
            tbl = pa.concat_tables([carry, tbl])
        tbl = tbl.combine_chunks()
        gid = np.cumsum(_group_starts(tbl)) - 1
        tail = tbl.column("n").to_numpy() < BLOCK_SIZE
        still_open = tail & (gid == gid[-1])
        carry = tbl.filter(pa.array(still_open)) if still_open.any() else None
        emit(tbl, gid, tail & ~still_open)
    if carry is not None:
        emit(carry, np.zeros(carry.num_rows, dtype=np.int64),
             np.ones(carry.num_rows, dtype=bool))
    out.close()
    return out.files


def _merge_write_kernel(out_dir: str, row_group_bytes: int):
    """The merge's ``mapInArrow`` function: each task writes its
    partition's files (``_write_merged_partition``) and returns one
    (segment, rows) row per file. ``row_group_bytes`` is read on the
    driver and travels in the closure."""

    def kernel(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        files = _write_merged_partition(
            batches, out_dir, TaskContext.get().partitionId(),
            row_group_bytes)
        if files:
            seg, rows = zip(*files)
            yield pa.RecordBatch.from_pydict({
                "segment": pa.array(seg, pa.int32()),
                "rows": pa.array(rows, pa.int64()),
            })

    return kernel


# Level-0 block count up to which the per-term stats are aggregated on
# the driver: a pyarrow group_by over the level-0 files' term, n and
# sum_tf columns, with no Spark job. Blocks ≥ terms, so this also caps
# the vocabulary the driver-side placement handles. Measured peak
# driver RSS growth of the read, the aggregate, the dictionary write
# and the pandas stats frame at 2M blocks: 68 MB (0.14 s) over 10k
# terms, 729 MB (2.3 s) in the worst case of one block per term.
_DRIVER_STATS_MAX_BLOCKS = 2_000_000


def _level0_files(layout: IndexLayout) -> list[str]:
    from .sidecar import _list_parquet_files

    return _list_parquet_files(layout.postings_l0)


def _read_level0(spark: SparkSession, files: list[str]) -> DataFrame:
    """The level-0 ``files`` as a Spark DataFrame: the read schema is
    given and the listing threshold raised to the file count, so no
    Spark job infers a schema or lists the files."""
    with _scoped_conf(spark, {
            "spark.sql.sources.parallelPartitionDiscovery.threshold":
                len(files)}):
        return spark.read.schema(POSTINGS_SCHEMA).parquet(*files)


def _write_dictionary(spark, layout: IndexLayout, files: list[str]
                      ) -> tuple[str, int, pd.DataFrame | DataFrame]:
    """Write the term dictionary (term, df, cf) from the per-term stats
    of the LEVEL-0 ``files`` (term, nblocks = block count, df = Σn,
    cf = Σsum_tf) into a new directory. Returns the directory, Σcf (the
    corpus token count, for avgdl) and the stats for the caller's
    further use (the merge's placement).

    df and cf are invariant under the merge's tail consolidation
    (re-encoding preserves every posting) and under publishing level-0
    as it is, so the merge and the streamed finalize both derive the
    dictionary from the level-0 block stats — never by re-scanning
    published postings (VERDICT r04 #4).

    This is the one driver/distributed fork of the stats pass, gated on
    the level-0 block count summed from the files' footers (metadata
    only). Up to ``_DRIVER_STATS_MAX_BLOCKS``: a pyarrow group_by over
    the files' term, n and sum_tf columns on the driver, no Spark job;
    one globally term-sorted file, and the stats come back as a pandas
    frame. Above it, a Spark aggregate is persisted and written
    distributed, term-sorted within partitions so the dictionary's
    row-group footer stats stay seek-friendly for the serving path's
    filtered scans; the persisted DataFrame comes back and the caller
    unpersists it."""
    import pyarrow.parquet as pq

    out = layout.artifact("dictionary")
    blocks = sum(pq.read_metadata(f).num_rows for f in files)
    if blocks <= _DRIVER_STATS_MAX_BLOCKS:
        import pyarrow as pa
        import pyarrow.compute as pc

        # File by file and single-threaded: a threaded dataset scan and
        # aggregate raised perfbench ``update``'s peak driver RSS by
        # ~7 MB over the Spark stats collect it replaces, this by 1-2 MB.
        schema = pa.schema([("term", pa.string()), ("n", pa.int32()),
                            ("sum_tf", pa.int64())])
        parts = [schema.empty_table()]
        for f in files:
            with pq.ParquetFile(f) as pf:
                parts.append(pf.read(columns=schema.names,
                                     use_threads=False).cast(schema))
        agg = pa.concat_tables(parts).group_by("term", use_threads=False) \
            .aggregate([("n", "count"), ("n", "sum"), ("sum_tf", "sum")])
        stats = pa.table({
            "term": agg["term"], "nblocks": agg["n_count"],
            "df": agg["n_sum"], "cf": agg["sum_tf_sum"],
        }).sort_by("term")
        os.makedirs(out)
        pq.write_table(stats.select(["term", "df", "cf"]),
                       os.path.join(out, "part-0.parquet"),
                       row_group_size=1 << 20)
        return out, int(pc.sum(stats["cf"]).as_py() or 0), stats.to_pandas()
    stats = _read_level0(spark, files).groupBy("term").agg(
        F.count("*").alias("nblocks"),
        F.sum("n").alias("df"),
        F.sum("sum_tf").alias("cf"),
    ).persist()
    (
        stats.select(
            "term", F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
        )
        .sortWithinPartitions("term")
        .write.parquet(out)
    )
    return out, int(stats.agg(F.sum("cf")).collect()[0][0] or 0), stats


def _bounds_pandas(cold: pd.DataFrame, merge_parallelism: int) -> list[str]:
    """Driver-side reference of the cold-term bounds (identical formula
    to _cold_term_bounds — the distributed test asserts equality)."""
    if not len(cold):
        return []
    ref = cold.sort_values("term").reset_index(drop=True)
    cum = ref["nblocks"].cumsum()
    per_part = max(
        float(ref["nblocks"].sum()) / float(max(merge_parallelism, 1)), 1.0
    )
    p = np.floor((cum - ref["nblocks"]) / per_part)
    return sorted(ref.groupby(p)["term"].min().tolist())


def _cold_term_bounds(cold: DataFrame, merge_parallelism: int) -> list[str]:
    """Block-balanced contiguous term-range boundaries for cold-term
    placement: partition p starts at the first term whose cumulative
    block count (in term order) crosses p × (total/P).

    The cumulative sum is a DISTRIBUTED two-pass prefix sum (VERDICT r03
    wrong-#1: the old global ``Window.orderBy("term")`` moved the whole
    vocabulary — 10^9+ terms at Common-Crawl scale — through ONE task;
    Spark itself warned "No Partition Defined"). Pass 1 range-partitions
    the stats by term and aggregates one block total per partition; the
    ≤P totals come to the driver and become broadcast offsets. Pass 2
    computes each partition's LOCAL cumsum with a window partitioned by
    the range-partition id (parallel — every window partition is one
    range partition) and adds the offset. The persist pins the sampled
    range boundaries so both passes see the identical partitioning.
    Output is byte-identical to a single global window (asserted against
    a pandas reference in tests/test_e2e_index.py)."""
    n_ps = max(merge_parallelism, 1)
    cold_sorted = (
        cold.repartitionByRange(n_ps, "term")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    try:
        part_tot = {
            int(r.pid): int(r.tot)
            for r in cold_sorted.groupBy("pid")
            .agg(F.sum("nblocks").alias("tot"))
            .collect()
        }
        if not part_tot:
            return []
        per_part = max(float(sum(part_tot.values())) / float(n_ps), 1.0)
        offs, acc = [], 0
        for pid in range(max(part_tot) + 1):
            offs.append(acc)
            acc += part_tot.get(pid, 0)
        off_arr = F.array(*[F.lit(o) for o in offs])
        wv = Window.partitionBy("pid").orderBy("term").rowsBetween(
            Window.unboundedPreceding, 0
        )
        return sorted(
            r.t0
            for r in cold_sorted.withColumn(
                "cum",
                F.sum("nblocks").over(wv)
                + F.element_at(off_arr, F.col("pid") + 1),
            )
            .withColumn(
                "p",
                F.floor((F.col("cum") - F.col("nblocks")) / F.lit(per_part)),
            )
            .groupBy("p")
            .agg(F.min("term").alias("t0"))
            .collect()
        )
    finally:
        cold_sorted.unpersist()


def merge_segments(
    spark: SparkSession,
    layout: IndexLayout,
    n_buckets: int,
    max_segments: int,
    merge_parallelism: int,
) -> dict:
    """Merge level-0 (per-bucket) segments (``layout.postings_l0``) down
    to ≤ max_segments, into new postings and dictionary directories.
    Returns ``{"postings", "dictionary", "prune_shift", "total_tokens"}``:
    the two directories, the docid window granularity the serving path
    must use (recorded in the manifest) and Σcf for avgdl. The term
    dictionary is written HERE, from the same level-0 stats that drive
    placement (``_write_dictionary``). This is the engine's only
    postings rewrite: ``build_index`` and ``compact_index`` call it, and
    a streamed finalize publishes its level-0 as it is.

    ONE exchange into ONE write kernel, mirroring Lucene's
    merge-then-compact:

    1. **Concatenation**: per-bucket docid ranges are disjoint and
       ordered, so a term's global posting list is its per-bucket
       blocks in bucket order — full blocks (n == BLOCK_SIZE) move
       without decode/re-encode and the hottest term's blocks stay
       distributed across merge tasks. Segment = bucket >> seg_shift
       (contiguous power-of-two bucket ranges, ≤ max_segments of them).
    2. **Tail consolidation** (the esindex/optimize.go:13-28 semantic,
       SURVEY.md §7 "hard part #1"): every (bucket × term) level-0 list
       ends in a tail block < BLOCK_SIZE — up to n_buckets fragments per
       term: read amplification and loose block-max bounds at serve
       time. The exchange routes every tail of a term to ONE partition,
       and the write kernel re-encodes each (segment, term)'s tails into
       contiguous blocks when the group ends, leaving ≤1 short block per
       (segment, term) (bounded: ≤ n_buckets×127 postings per group).

    Every level-0 block is routed by its placement partition (``mpart``)
    in one exchange, sorted within partitions by (segment, term,
    doc_id_lo), and streamed by a ``mapInArrow`` kernel
    (``_write_merged_partition``) that consolidates the tails and writes
    ``segment=S/part-PPPPP.parquet`` with pyarrow into the new postings
    directory the driver makes right before the job. No tails exchange,
    no union, no Spark parquet writer.

    Window correctness: a consolidated block spans buckets, so the WAND
    pruning window coarsens from bucket to segment — a segment is a
    complete, contiguous docid range (window id = doc_id >> prune_shift),
    so the serving path's exact-θ invariant is preserved at prune_shift =
    DOC_BUCKET_SHIFT + seg_shift.

    Placement clusters whole terms per output file so a query touches
    ONE file per (cold term, segment), and — decisive for the
    metadata-first serving path — each row group's [term-min, term-max]
    footer range is NARROW, so per-query metadata reads touch only the
    query terms' row groups. Placement is driven by the B8
    df-stats pass (block counts per term from level-0 metadata), NOT by
    repartitionByRange's sampling job. Terms above ``_HOT_TERM_BLOCKS``
    (an absolute work-unit bound, see the inline rationale; top-4P by
    block count so the list stays driver-sized) are classified hot: their
    FULL blocks are spread across the partition space by source-bucket
    position, so the hottest term's postings land in ~merge_parallelism
    files instead of one straggler task/file — estypes.go:104-116's skew
    heuristic, wired into placement — while their tails go to the
    term's cold-range partition, so each (segment, term) tail group
    lands in one task. The right choice at 10^12-doc scale where
    file-count per segment matters; overkill at bench scale.
    """
    seg_shift = _seg_shift(n_buckets, max_segments)
    files = _level0_files(layout)
    # A cold term must be a BOUNDED work unit for every consumer —
    # one merge task, one batch-scoring task (its whole list lands in
    # one file = one input split), one serving metadata read. The cut
    # is therefore absolute work size (4096 blocks ≈ 0.5M postings ≈
    # ~5 MB payload), not a fraction of the corpus: the old
    # total/P/2 cut classified a 1M-posting term as cold at 2M docs,
    # and its single-file placement made one straggler task decode
    # the hottest query term's entire list in the batch path
    # (measured: query N→4N scaling 0.36). The hot list stays
    # driver-sized via top-(4P): residual terms beyond it are at
    # most as big as the (4P+1)-th hottest — under any Zipf-ish law
    # the fat head is covered.
    n_top = 4 * max(merge_parallelism, 1)
    # Cold terms get CONTIGUOUS, block-balanced term ranges (not a
    # hash): a query term then lives in ONE file per segment and the
    # metadata-first serving reader's footer check prunes every other
    # FILE outright — with a hash each file spans the whole
    # vocabulary and a tiny index reads every row group's metadata
    # per query (measured 5-8× worse serving p50). Range boundaries
    # come from cumulative block counts over the term-sorted stats.
    #
    # The stats pass itself is _write_dictionary's driver/distributed
    # fork: up to its block cap the stats are aggregated on the driver
    # and the hot list and bounds are derived in pandas, with no Spark
    # job. Above the cap, the distributed two-pass prefix sum
    # (_cold_term_bounds — byte-identical, tested) handles 10^9+-term
    # vocabularies with no single-partition step.
    with _detail("merge_dict"):
        dictionary, total_tokens, stats = _write_dictionary(
            spark, layout, files)
    with _detail("merge_placement"):
        if isinstance(stats, pd.DataFrame):
            hot_terms = (
                stats[stats["nblocks"] > _HOT_TERM_BLOCKS]
                .sort_values(["nblocks", "term"], ascending=[False, True])
                .head(n_top)["term"].tolist()
            )
            bounds = _bounds_pandas(
                stats[~stats["term"].isin(hot_terms)], merge_parallelism
            )
        else:
            hot_terms = [
                r.term
                for r in stats.filter(F.col("nblocks") > _HOT_TERM_BLOCKS)
                .orderBy(F.col("nblocks").desc(), "term")
                .limit(n_top)
                .collect()
            ]
            cold = (
                stats.filter(~F.col("term").isin(hot_terms))
                if hot_terms else stats
            )
            bounds = _cold_term_bounds(cold, merge_parallelism)
            stats.unpersist()
    blocks = _read_level0(spark, files).select(
        F.shiftright(F.col("bucket"), seg_shift).cast("int").alias("segment"),
        "term",
        (
            (F.col("bucket").cast("long") * F.lit(1 << MERGE_BLOCK_SHIFT))
            + F.col("block_id")
        ).alias("block_id"),
        *_MERGED_COLS[3:],
    )
    pos = F.shiftright(F.col("doc_id_lo"), DOC_BUCKET_SHIFT)
    barr = (
        F.array(*[F.lit(b) for b in bounds]) if bounds else F.array(F.lit(""))
    )
    cold_part = F.greatest(
        F.size(F.filter(barr, lambda b: b <= F.col("term"))) - F.lit(1),
        F.lit(0),
    )
    hot_full = (
        F.col("term").isin(hot_terms) & (F.col("n") == BLOCK_SIZE)
        if hot_terms else F.lit(False)
    )
    mpart = F.when(hot_full, F.pmod(pos, F.lit(merge_parallelism))).otherwise(
        F.lit(merge_parallelism) + cold_part)
    postings = layout.artifact("postings")
    os.makedirs(postings)
    with _detail("merge_write"):
        written = (
            blocks.withColumn("mpart", mpart)
            .repartition(merge_parallelism + max(len(bounds), 1), "mpart")
            .drop("mpart")
            .sortWithinPartitions("segment", "term", "doc_id_lo")
            .mapInArrow(
                _merge_write_kernel(postings, POSTINGS_ROW_GROUP_BYTES),
                "segment int, rows long")
            .collect()
        )
    log.info("merge wrote %d postings files, %d blocks", len(written),
             sum(r.rows for r in written))
    return {
        "postings": postings,
        "dictionary": dictionary,
        "prune_shift": DOC_BUCKET_SHIFT + seg_shift,
        "total_tokens": total_tokens,
    }


def _stats_and_publish(spark: SparkSession, layout: IndexLayout,
                       paths: dict, max_segments: int,
                       consolidation_shift: int, total_tokens: int,
                       identity: dict | None = None) -> dict:
    """Write the rg_stats sidecar of ``paths`` and publish them with the
    corpus stats: the one publish of every writer that changes postings
    (``build_index``, ``finalize_streamed_index``, ``compact_index``), so
    the manifest's fields are written here only. ``total_tokens`` (Σcf)
    comes from ``_write_dictionary``'s level-0 stats pass, and the doc
    count from the docmap footers (driver-side metadata, exact; no Spark
    job). ``identity`` carries the lineage fields n_buckets,
    input_snapshot and source_filter: a build's own, or the manifest a
    compaction replaces (so compacting a BATCH-built index does not
    reset them to the streaming defaults)."""
    import pyarrow.dataset as pads

    from .sidecar import write_rg_sidecar

    n_docs = pads.dataset(paths["docmap"], format="parquet").count_rows()
    paths = {**paths, "rg_stats": write_rg_sidecar(layout, paths, spark)}
    identity = identity or {}
    stats = {
        "n_docs": int(n_docs),
        "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        # -1 = open-ended epoch-scoped buckets (streaming).
        "n_buckets": identity.get("n_buckets", -1),
        "max_segments": max_segments,
        "block_size": BLOCK_SIZE,
        "codec_version": CODEC_VERSION,
        "layout_version": INDEX_LAYOUT_VERSION,
        "analyzer_version": ANALYZER_VERSION,
        "input_snapshot": identity.get("input_snapshot", "streaming"),
        # Blocks span at most 2^(shift-40) buckets, always within one
        # segment (the serving path's window, query._prune_and_score).
        "consolidation_shift": consolidation_shift,
        "level0": layout.postings_l0,
    }
    if "source_filter" in identity:
        stats["source_filter"] = identity["source_filter"]
    return publish_manifest(layout, stats, paths)


# --------------------------------------------------------------------------
# Orchestration
# --------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    source: str,
    index_dir: str,
    n_buckets: int = 32,
    max_segments: int = 5,
    n_groups: int = 4,
    build_id: str = "build0",
    fail_after_groups: int | None = None,
    pages: DataFrame | None = None,
    source_filter: str | None = None,
) -> dict:
    """Run (or resume) a full index build. Returns the published manifest.

    Parameters mirror escp's CLI: n_buckets ≅ --shards (D2), max_segments ≅
    --maxsegs (D5), n_groups = checkpoint granularity (the scroll-page
    analog of resumable units, esscroll.go:129), source_filter = a SQL
    predicate pushed into the corpus scan (the escopyjob.go:37 query
    filter POSTed at esscroll.go:79-90 — index only the matching docs
    without pre-materializing a filtered corpus).

    ``fail_after_groups=N`` is the resume-test kill switch: the build
    raises SimulatedFailure after exactly N segment-group commits of
    this run (0 = right after the shuffle commit).
    """
    import hashlib

    layout = IndexLayout(index_dir, build_id)
    layout.ensure_dirs()
    snapshot = input_snapshot_fingerprint(source)
    # Resume units are only interchangeable between runs with identical
    # bucketing/grouping/filtering — key the ledger on input AND params
    # so a re-run with different n_buckets/n_groups/filter rebuilds
    # instead of silently mixing layouts.
    # "xm=wide" names what staging holds (extracted text, not html).
    params = (
        f"nb={n_buckets}|ng={n_groups}|flt={source_filter or ''}"
        "|xm=wide"
    )
    resume_key = (
        snapshot + "|" + hashlib.md5(params.encode()).hexdigest()[:12]
    )
    # The shuffle output, the level-0 (not a compaction's purged one)
    # and the docmap directory are all named by the resume key: a
    # rebuild over another input never writes into what this key's
    # ledger commits point at, nor into a published docmap, and a
    # resumed run finds its committed outputs again. The publish deletes
    # the other keys' staging.
    tag = hashlib.md5(resume_key.encode()).hexdigest()[:16]
    shuffled_dir = os.path.join(layout.staging, f"shuffled-{tag}")
    layout.postings_l0 = os.path.join(layout.staging, f"postings_l0-{tag}")
    dm_dir = layout.artifact("docmap", tag)

    last_build_timings.clear()
    last_build_detail.clear()
    _t0 = time.perf_counter()

    def _mark(stage: str):
        nonlocal _t0
        now = time.perf_counter()
        last_build_timings[stage] = round(now - _t0, 3)
        _t0 = now

    # ---- Stage "shuffle": the ONE wide pass — dedup shuffle + md5
    # bucketing + extraction — materialized partitioned by checkpoint
    # group. Its resumable unit is the whole
    # shuffle (a shuffle either completes or doesn't); a commit counts
    # only while its output exists (a compaction's publish deletes it).
    # Staging write amplification is 1× of the input or less (text <
    # html) — the same cost the reference pays bulk-writing every doc
    # into the target index.
    if not (committed_groups(spark, layout, "shuffle", resume_key)
            and os.path.isdir(shuffled_dir)):
        if pages is None:
            pages = read_web_pages(spark, source)
        shuffled = staged_corpus(pages, n_buckets, n_groups, source_filter)
        with _scoped_conf(spark, _CORPUS_SCAN_CONF), _detail("shuffle_write"):
            shuffled.write.mode("overwrite").partitionBy("grp").parquet(
                shuffled_dir
            )
        # Per-group doc counters (M2 analog) from the staging files'
        # parquet FOOTERS — driver-side metadata reads (num_rows is
        # exact), not a Spark scan of the staging bytes (r07: the old
        # count job re-read the whole staging dataset; ~0.3-0.8 s at
        # sf1.0 and growing with corpus size).
        with _detail("shuffle_counts"):
            import pyarrow.parquet as _pq

            from .sidecar import _list_parquet_files

            grp_counts = {
                int(e.split("=", 1)[1]): sum(
                    _pq.ParquetFile(f).metadata.num_rows
                    for f in _list_parquet_files(os.path.join(shuffled_dir, e))
                )
                for e in os.listdir(shuffled_dir) if e.startswith("grp=")
            }
        with _detail("shuffle_ledger"):
            _ledger_append(
                spark,
                layout,
                [
                    {
                        "build_id": build_id,
                        "partition_id": int(g),
                        "stage": "shuffle",
                        "status": "committed",
                        "segment_path": os.path.join(shuffled_dir, f"grp={g}"),
                        "docs": int(docs),
                        "bytes": _dir_bytes(
                            os.path.join(shuffled_dir, f"grp={g}")
                        ),
                        "input_snapshot": resume_key,
                    }
                    for g, docs in grp_counts.items()
                ],
            )
        log.info("shuffle committed: %d docs", sum(grp_counts.values()))
    else:
        pdf = _ledger_pandas(layout)
        m = (
            (pdf["build_id"] == build_id)
            & (pdf["stage"] == "shuffle")
            & (pdf["input_snapshot"] == resume_key)
        )
        grp_counts = dict(
            zip(pdf.loc[m, "partition_id"].astype(int), pdf.loc[m, "docs"].astype(int))
        )
        log.info("shuffle stage already committed — skipping (resume)")

    _mark("shuffle")

    # ---- Stage "segment": ONE Spark job per group — the per-bucket
    # kernel writes each bucket's docmap file and returns its level-0
    # blocks — then a ledger commit per group. A committed group counts
    # only while its outputs exist (a compaction replaces this build's
    # level-0 and docmap, and the publish deletes the replaced ones).
    done = {
        g for g in committed_groups(spark, layout, "segment", resume_key)
        if all(os.path.isdir(os.path.join(d, f"group={g}"))
               for d in (layout.postings_l0, dm_dir))
    }

    def _run_group(g: int) -> None:
        # The docmap files go straight into the directory the publish
        # names — publish is zero-copy, which matters when the docmap has
        # 10^12 rows. The group's directory is emptied first: a crashed
        # attempt's temp files and strays never reach a publish.
        dm_path = os.path.join(dm_dir, f"group={g}")
        shutil.rmtree(dm_path, ignore_errors=True)
        os.makedirs(dm_path)
        seg_path = os.path.join(layout.postings_l0, f"group={g}")
        with _detail("segment_write"):
            group_segments(spark, shuffled_dir, g, dm_path).write.mode(
                "overwrite"
            ).parquet(seg_path)
        drop_empty_parquet_files(seg_path)
        docs_g = int(grp_counts.get(g, 0))
        with _detail("segment_ledger"):
            bytes_g = _dir_bytes(seg_path)  # FS listing, no Spark job
            _ledger_append(
                spark,
                layout,
                [
                    {
                        "build_id": build_id,
                        "partition_id": g,
                        "stage": "segment",
                        "status": "committed",
                        "segment_path": seg_path,
                        "docs": docs_g,
                        "bytes": bytes_g,
                        "input_snapshot": resume_key,
                    }
                ],
            )
        log.info(
            "group %d committed: %d docs, %s of segments",
            g, docs_g, iec_format(bytes_g),
        )

    pending = [g for g in range(n_groups) if g not in done]
    if len(done):
        log.info("%d groups already committed — skipping (resume)", len(done))
    # One scope around the whole stage (not per group): identical values
    # for every group. The shuffle-partition override spreads the
    # per-bucket kernels 1-2 per task instead of the 3-4 balls-into-bins
    # worst bin (see _balanced_shuffle_partitions) — scoped to this
    # stage only; every other query keeps the session's sizing.
    seg_conf = dict(_GROUP_SCAN_CONF)
    # Scale gate (A/B-measured): below ~2000 docs/bucket a kernel is
    # ~50 ms and the straggler the planner removes is smaller than the
    # extra empty-task/file overhead it adds (sf0.1: planner 7.36 s vs
    # default 6.94 s; sf1.0: planner ≈1.5-2 s FASTER) — the override
    # only engages when per-bucket work dominates scheduling.
    if pending and sum(grp_counts.values()) >= 2000 * n_buckets:
        seg_conf["spark.sql.shuffle.partitions"] = str(
            _balanced_shuffle_partitions(
                [
                    [b for b in range(n_buckets) if b % n_groups == g]
                    for g in range(n_groups)
                ],
                int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
                STAGING_SCHEMA["bucket"].dataType,
            )
        )
    with _scoped_conf(spark, seg_conf):
        for g in pending[:fail_after_groups]:  # None slices all
            _run_group(g)
    if fail_after_groups is not None and fail_after_groups <= len(pending):
        raise SimulatedFailure(f"killed after {fail_after_groups} groups (test)")

    _mark("segment")

    # ---- Finalize (new directories only): merge (which also writes the
    # dictionary from its own level-0 stats pass), stats, atomic manifest
    # publish (D3/B11).
    merged = merge_segments(
        spark, layout, n_buckets, max_segments,
        spark.sparkContext.defaultParallelism,
    )
    _mark("merge")

    paths = {"postings": merged["postings"], "docmap": dm_dir,
             "dictionary": merged["dictionary"]}
    if layout.paths.get("docmap") == dm_dir and "tombstones" in layout.paths:
        # Republishing the docmap the tombstones were resolved against:
        # its deletes still apply.
        paths["tombstones"] = layout.paths["tombstones"]
    with _detail("final_sidecar"):  # the sidecar scan and the publish
        manifest = _stats_and_publish(
            spark, layout, paths, max_segments, merged["prune_shift"],
            merged["total_tokens"],
            identity={"n_buckets": n_buckets, "input_snapshot": snapshot,
                      "source_filter": source_filter},
        )
    _mark("finalize")
    log.info("published index: %d docs, avgdl=%.2f", manifest["n_docs"],
             manifest["avgdl"])
    return manifest


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
