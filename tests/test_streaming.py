"""Streaming ingest: incremental epochs must yield query results
rank-identical to a batch build over the same corpus (urls + scores —
docids legitimately differ because epoch-scoped buckets assign them)."""

import glob
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest

from escp_spark.query import search_topk
from escp_spark.streaming import finalize_streamed_index, stream_ingest_once


# stream_source fixture lives in conftest.py (shared with
# test_deletes.py).

QUERIES = [
    {"query_id": 0, "query_text": "t00000", "k": 10},
    {"query_id": 1, "query_text": "t00000 t09500", "k": 10},
    {"query_id": 2, "query_text": "t00001 t00200", "k": 5},
]


def _schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])


def _md5_bucket(url: str, n_buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(url.encode()).hexdigest()[:8], 16) % n_buckets


def _file_base_bucket(path: str, n_buckets: int) -> int:
    """Base bucket of a per-bucket docmap file of a streamed epoch:
    ``group=e<E>/bucket-NNNNN.parquet`` holds effective bucket
    NNNNN = E·n_buckets + base."""
    group, name = path.split(os.sep)[-2:]
    e = int(group[len("group=e"):])
    return int(name[len("bucket-"):-len(".parquet")]) - e * n_buckets


def _copy_source(stream_source, dst, n_files=None):
    """Private copy of the source dir (the streaming checkpoint pins the
    source path, and the shared fixture must not gain files). The copies'
    mtimes increase in name order, so every copy splits into the same
    epochs (the file source takes files oldest first)."""
    dst.mkdir()
    files = sorted(glob.glob(os.path.join(stream_source, "*.parquet")))
    for i, f in enumerate(files[:n_files]):
        out = shutil.copy(f, str(dst))
        os.utime(out, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(dst)


def test_stream_ingest_matches_batch_build(spark, stream_source, tmp_path):
    from pyspark.sql import types as T

    from escp_spark.build import build_index

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    stream_idx = str(tmp_path / "stream_idx")
    n_epochs = stream_ingest_once(spark, stream_source, stream_idx, schema,
                                  n_buckets=4)
    assert n_epochs >= 2, "expected multiple micro-batches"
    manifest = finalize_streamed_index(spark, stream_idx, max_segments=3)

    batch_idx = str(tmp_path / "batch_idx")
    build_index(spark, stream_source, batch_idx, n_buckets=4,
                max_segments=3, n_groups=1)

    # Same doc count (no dup urls across the split) and rank-identical
    # results on a mixed query set.
    from escp_spark.sources.tables import load_manifest

    assert manifest["n_docs"] == load_manifest(batch_idx)["n_docs"]
    queries = [
        {"query_id": 0, "query_text": "t00000", "k": 10},
        {"query_id": 1, "query_text": "t00000 t09500", "k": 10},
        {"query_id": 2, "query_text": "t00001 t00200", "k": 5},
    ]
    got_s = [(r["query_id"], r["rank"], r["doc_url"], round(r["score"], 9))
             for r in search_topk(stream_idx, queries)]
    got_b = [(r["query_id"], r["rank"], r["doc_url"], round(r["score"], 9))
             for r in search_topk(batch_idx, queries)]
    assert got_s == got_b


def test_stream_compaction_consolidates_and_preserves_results(
    spark, stream_source, tmp_path
):
    """Epoch compaction: after many epochs, compact_index must
    leave ≤1 short block per (segment, term) (the batch-merge D5
    invariant), advertise the coarsened prune window, and leave query
    results bit-identical to the uncompacted index."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from escp_spark.codec import BLOCK_SIZE
    from escp_spark.sources.tables import IndexLayout, load_manifest
    from escp_spark.streaming import compact_index

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    idx = str(tmp_path / "compact_idx")
    stream_ingest_once(spark, stream_source, idx, schema, n_buckets=4)
    finalize_streamed_index(spark, idx, max_segments=3)
    queries = [
        {"query_id": 0, "query_text": "t00000", "k": 10},
        {"query_id": 1, "query_text": "t00000 t09500", "k": 10},
        {"query_id": 2, "query_text": "t00001 t00200", "k": 5},
    ]
    before = [(r["query_id"], r["rank"], r["doc_url"], round(r["score"], 9))
              for r in search_topk(idx, queries)]
    # The finalized postings are the level-0 (no segment column): short
    # blocks of one term in several epoch buckets.
    layout = IndexLayout(idx, "stream0")
    assert layout.postings == load_manifest(idx)["level0"]
    p = spark.read.parquet(layout.postings)
    frag_before = (
        p.filter(F.col("n") < BLOCK_SIZE).groupBy("term")
        .count().filter(F.col("count") > 1).count()
    )
    assert frag_before > 0, "corpus too small to fragment — weak test"

    manifest = compact_index(spark, idx, max_segments=3)
    assert manifest["consolidation_shift"] > 40
    p = spark.read.parquet(manifest["paths"]["postings"])
    frag = (
        p.filter(F.col("n") < BLOCK_SIZE).groupBy("segment", "term")
        .count().filter(F.col("count") > 1).count()
    )
    assert frag == 0, f"{frag} (segment, term) groups still fragmented"
    s = manifest["consolidation_shift"]
    bad = p.filter(
        F.shiftright(F.col("doc_id_lo"), s) != F.shiftright(F.col("doc_id_hi"), s)
    ).count()
    assert bad == 0
    assert load_manifest(idx)["consolidation_shift"] == s
    after = [(r["query_id"], r["rank"], r["doc_url"], round(r["score"], 9))
             for r in search_topk(idx, queries)]
    assert after == before


def test_cli_compact_surface(spark, stream_source, tmp_path, capsys):
    """`cli compact` republished manifest reaches stdout as JSON and the
    compacted index still serves (the operational lifecycle surface)."""
    import json

    from pyspark.sql import types as T

    from escp_spark.cli import main as cli_main

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    idx = str(tmp_path / "cli_compact_idx")
    stream_ingest_once(spark, stream_source, idx, schema, n_buckets=4)
    finalize_streamed_index(spark, idx, max_segments=3)
    rc = cli_main(["compact", idx, "--maxsegs", "3"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    manifest = json.loads(out)
    assert manifest["consolidation_shift"] > 40
    assert search_topk(idx, [{"query_id": 0, "query_text": "t00000", "k": 3}])


def test_stream_epoch_dedup_is_bloom_pruned(spark, stream_source, tmp_path):
    """VERDICT r03 wrong-#2: the per-epoch append-only dedup must NOT
    full-scan the docmap every micro-batch. With disjoint epochs (the
    common case) the bloom classifies every row definitely-new and no
    bucket kernel opens a docmap file."""
    from pyspark.sql import types as T

    import escp_spark.streaming.ingest as ing

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    idx = str(tmp_path / "bloom_idx")
    n = stream_ingest_once(spark, stream_source, idx, schema, n_buckets=4)
    assert n >= 2
    # Last epoch ran with a prior docmap present; its urls are disjoint
    # → bloom says "new" for all (false-positive odds at 16 bits/url
    # over a few hundred urls are ~0) → no docmap file opened.
    assert ing.last_dedup_stats["docmap_files"] > 0
    assert ing.last_dedup_stats["docmap_files_opened"] == []
    assert ing.last_dedup_stats["maybe_hits"] == 0
    assert os.path.exists(os.path.join(idx, "url_bloom.npz"))


def test_stream_overlapping_batch_drops_dups_via_pruned_verify(
    spark, stream_source, tmp_path
):
    """True cross-epoch duplicates: bloom maybe-hits are verified by
    their bucket kernels, which open only the docmap files of the
    maybe-hits' base buckets; dups are dropped, new urls kept."""
    import pyarrow as pa

    from pyspark.sql import types as T

    import escp_spark.streaming.ingest as ing
    from escp_spark.sources.tables import IndexLayout

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    # Private copy of the source dir (the streaming checkpoint pins the
    # source path, and the shared fixture must not gain files).
    import shutil

    src = tmp_path / "overlap_src"
    src.mkdir()
    for f in glob.glob(os.path.join(stream_source, "*.parquet")):
        shutil.copy(f, str(src))
    idx = str(tmp_path / "overlap_idx")
    stream_ingest_once(spark, str(src), idx, schema, n_buckets=4)
    layout = IndexLayout(idx, "stream0")
    n_before = spark.read.parquet(layout.docmap).count()

    # New arrival: half duplicates of already-ingested urls, half new.
    first = pq.read_table(sorted(glob.glob(str(src / "*.parquet")))[0])
    dup_half = first.slice(0, 50)
    pdf = dup_half.to_pandas()
    new_pdf = pdf.copy()
    new_pdf["url"] = ["https://new.example/%d" % i for i in range(len(new_pdf))]
    both = pa.concat_tables([
        dup_half,
        pa.Table.from_pandas(new_pdf, preserve_index=False).cast(
            dup_half.schema
        ),
    ])
    pq.write_table(both, str(src / "zz_more.parquet"))

    n_epochs = stream_ingest_once(spark, str(src), idx, schema, n_buckets=4)
    assert n_epochs == 1
    assert ing.last_dedup_stats["maybe_hits"] >= 50
    st = ing.last_dedup_stats
    dup_bases = {_md5_bucket(u, 4) for u in dup_half.column("url").to_pylist()}
    assert set(st["maybe_hit_buckets"]) <= dup_bases
    assert st["docmap_files_opened"]
    assert {_file_base_bucket(f, 4) for f in st["docmap_files_opened"]} <= \
        set(st["maybe_hit_buckets"])
    dm = spark.read.parquet(layout.docmap)
    assert dm.count() == n_before + 50, "dups must be dropped, new kept"
    assert dm.select("url").distinct().count() == n_before + 50


def test_stream_huge_overlap_fallback_is_bucket_pruned(
    spark, stream_source, tmp_path
):
    """VERDICT r04 next-#6: a re-ingest of known urls (every row a bloom
    maybe-hit) reads only the docmap files of the batch's base buckets
    in the earlier epochs, not the whole docmap. Dedup results stay
    exact."""
    import shutil

    from pyspark.sql import types as T

    import escp_spark.streaming.ingest as ing
    from escp_spark.sources.tables import IndexLayout

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    src = tmp_path / "bp_src"
    src.mkdir()
    for f in glob.glob(os.path.join(stream_source, "*.parquet")):
        shutil.copy(f, str(src))
    idx = str(tmp_path / "bp_idx")
    stream_ingest_once(spark, str(src), idx, schema, n_buckets=4)
    layout = IndexLayout(idx, "stream0")
    n_before = spark.read.parquet(layout.docmap).count()

    # A batch of ONLY duplicates, all in base bucket 0 — the same md5
    # rule the engine buckets with.
    first = pq.read_table(sorted(glob.glob(str(src / "*.parquet")))[0])
    pdf = first.to_pandas()
    b = pdf["url"].map(lambda u: _md5_bucket(u, 4))
    dup = pdf[b == 0].head(20)
    assert len(dup) >= 8, "fixture hash skew — widen the slice"
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(dup, preserve_index=False).cast(first.schema),
        str(src / "zz_reingest.parquet"),
    )
    n_epochs = stream_ingest_once(spark, str(src), idx, schema, n_buckets=4)
    assert n_epochs == 1
    st = ing.last_dedup_stats
    assert st["maybe_hits"] == len(dup)
    assert 0 < len(st["docmap_files_opened"]) < st["docmap_files"]
    assert {_file_base_bucket(f, 4) for f in st["docmap_files_opened"]} == {0}
    dm = spark.read.parquet(layout.docmap)
    assert dm.count() == n_before, "pure-duplicate batch must add nothing"
    assert dm.select("url").distinct().count() == n_before


def test_stream_restart_skips_ingested(spark, stream_source, tmp_path):
    """Restart safety: a second drain over the same source must ingest
    nothing new (streaming checkpoint = the scroll-continuation analog,
    esscroll.go:293-294)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    idx = str(tmp_path / "restart_idx")
    first = stream_ingest_once(spark, stream_source, idx, schema, n_buckets=4)
    assert first >= 1
    again = stream_ingest_once(spark, stream_source, idx, schema, n_buckets=4)
    assert again == 0


def _docmap_rows(spark, index_dir):
    from escp_spark.sources.tables import IndexLayout

    return sorted(
        tuple(r) for r in spark.read.parquet(
            IndexLayout(index_dir, "stream0").docmap
        ).select("bucket", "url", "doc_id").collect()
    )


def test_stream_epoch_replay_keeps_its_own_urls(spark, stream_source,
                                                tmp_path, monkeypatch):
    """A crash after an epoch's segment job and bloom save, before its
    ledger commit, replays the same epoch id on restart. Its urls are
    then bloom maybe-hits of its own partial write; the verify skips the
    replaying epoch's own docmap group, so none is dropped, and the
    index equals a clean run's."""
    import escp_spark.streaming.ingest as ing
    from escp_spark.sources.tables import IndexLayout

    clean = str(tmp_path / "clean_idx")
    stream_ingest_once(spark, _copy_source(stream_source, tmp_path / "src"),
                       clean, _schema(), n_buckets=4)
    finalize_streamed_index(spark, clean, max_segments=3)

    src = _copy_source(stream_source, tmp_path / "replay_src")
    idx = str(tmp_path / "replay_idx")
    real_append = ing._ledger_append
    epochs = []

    def crash_on_second_epoch(spark_, layout, rows):
        epochs.append(rows[0]["partition_id"])
        if len(epochs) == 2:
            raise RuntimeError("killed before the epoch's ledger commit")
        real_append(spark_, layout, rows)

    monkeypatch.setattr(ing, "_ledger_append", crash_on_second_epoch)
    with pytest.raises(Exception):
        stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    assert epochs == [0, 1]
    assert os.path.isdir(os.path.join(idx, "docmap-stream0", "group=e1"))

    stats = {}

    def record_stats(spark_, layout, rows):
        stats[rows[0]["partition_id"]] = dict(ing.last_dedup_stats)
        real_append(spark_, layout, rows)

    monkeypatch.setattr(ing, "_ledger_append", record_stats)
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 2
    assert sorted(stats) == [1, 2], "the crashed epoch must replay as itself"
    replay = stats[1]
    assert replay["maybe_hits"] > 0, "the replayed urls are in the bloom"
    assert not any(f"{os.sep}group=e1{os.sep}" in f
                   for f in replay["docmap_files_opened"])
    finalize_streamed_index(spark, idx, max_segments=3)
    assert _docmap_rows(spark, idx) == _docmap_rows(spark, clean)
    assert search_topk(idx, QUERIES) == search_topk(clean, QUERIES)
    # The replay's urls count into the bloom once.
    blooms = [ing._load_bloom(IndexLayout(i, "stream0")) for i in (idx, clean)]
    assert blooms[0]["n"] == blooms[1]["n"]
    assert (blooms[0]["bits"] == blooms[1]["bits"]).all()


def test_stream_overlap_after_compaction_drops_dups(spark, stream_source,
                                                    tmp_path):
    """A compaction that purged tombstones keeps the docmap's per-bucket
    ``group=eN/bucket-NNNNN.parquet`` files. A later epoch of 50
    duplicate and 50 new urls drops exactly the duplicates. So does the
    next one, whose duplicates sit in a compacted epoch's docmap group
    and in the epoch just ingested."""
    import pandas as pd
    import pyarrow as pa

    import escp_spark.streaming.ingest as ing
    from escp_spark.sources.tables import IndexLayout
    from escp_spark.streaming import compact_index, delete_urls

    src = _copy_source(stream_source, tmp_path / "compact_src")
    idx = str(tmp_path / "compact_idx")
    stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    finalize_streamed_index(spark, idx, max_segments=3)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    first = pq.read_table(files[0])
    victims = pq.read_table(files[-1]).column("url").to_pylist()[:3]
    assert delete_urls(spark, idx, victims) == 3
    compact_index(spark, idx, max_segments=3)
    docmap = IndexLayout(idx, "stream0").docmap
    names = glob.glob(os.path.join(docmap, "*", "*.parquet"))
    assert names and all(
        re.fullmatch(r"group=e\d+/bucket-\d{5}\.parquet",
                     os.path.relpath(f, docmap).replace(os.sep, "/"))
        for f in names), "compacted docmap lost its per-bucket files"
    n_before = spark.read.parquet(docmap).count()

    dup_half = first.slice(0, 50)
    new_pdf = dup_half.to_pandas()
    new_pdf["url"] = ["https://new.example/%d" % i for i in range(50)]
    pq.write_table(
        pa.concat_tables([
            dup_half,
            pa.Table.from_pandas(new_pdf, preserve_index=False).cast(
                dup_half.schema),
        ]),
        os.path.join(src, "zz_more.parquet"),
    )
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 1
    st = ing.last_dedup_stats
    assert st["maybe_hits"] >= 50
    assert st["docmap_files_opened"]
    dm = spark.read.parquet(IndexLayout(idx, "stream0").docmap)
    assert dm.count() == n_before + 50, "dups must be dropped, new kept"
    assert dm.select("url").distinct().count() == n_before + 50
    assert dm.filter(dm.url.startswith("https://new.example/")).count() == 50

    # Duplicates of a compacted epoch and of the epoch just ingested,
    # plus new urls.
    mixed = new_pdf.head(10).copy()
    mixed["url"] = (
        first.column("url").to_pylist()[50:55]
        + ["https://new.example/%d" % i for i in range(5)]
    )
    newer = new_pdf.head(5).copy()
    newer["url"] = ["https://newer.example/%d" % i for i in range(5)]
    pq.write_table(
        pa.Table.from_pandas(pd.concat([mixed, newer]),
                             preserve_index=False).cast(dup_half.schema),
        os.path.join(src, "zz_mixed.parquet"),
    )
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 1
    st = ing.last_dedup_stats
    assert st["maybe_hits"] >= 10
    dm = spark.read.parquet(IndexLayout(idx, "stream0").docmap)
    assert dm.count() == n_before + 55
    assert dm.select("url").distinct().count() == n_before + 55


def test_stream_ingest_refuses_older_layout(spark, tmp_path):
    """Ingesting into an index published under an older layout raises
    the readers' rebuild error before any epoch runs."""
    import json

    from escp_spark.sources.tables import INDEX_LAYOUT_VERSION

    idx = tmp_path / "old_idx"
    (idx / "rg_stats-x").mkdir(parents=True)
    (idx / "_manifest.json").write_text(json.dumps({
        "build_id": "stream0", "status": "published",
        "layout_version": INDEX_LAYOUT_VERSION - 1,
        "paths": {"rg_stats": str(idx / "rg_stats-x")},
    }))
    with pytest.raises(RuntimeError, match="rebuild"):
        stream_ingest_once(spark, str(tmp_path / "nowhere"), str(idx),
                           _schema(), n_buckets=4)
    assert not os.path.exists(idx / "stream_checkpoint")


def test_finalize_publishes_level0_in_place(spark, stream_source, tmp_path):
    """finalize_streamed_index publishes the level-0 directory itself
    and rewrites no posting: after a finalize of three epochs the
    earlier epochs' published files keep their paths and mtimes, and
    the new files are the third epoch's. A warm reader that re-runs its
    queries fetches payload row groups only from those new files."""
    import escp_spark.query as Q
    from escp_spark.query import IndexReader

    src = _copy_source(stream_source, tmp_path / "l0_src", n_files=2)
    idx = str(tmp_path / "l0_idx")
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 2
    m = finalize_streamed_index(spark, idx, max_segments=3)
    assert m["paths"]["postings"] == m["level0"]
    assert not [e for e in os.listdir(idx) if e.startswith("postings")]
    # k above the corpus size: no block is pruned, so a re-run reads
    # every row group of the query terms that it has not decoded yet.
    qs = [dict(q, k=10_000) for q in QUERIES]
    reader = IndexReader(idx)
    search_topk(None, qs, reader=reader)
    fetched = reader.payload_rowgroups_fetched
    assert fetched > 0
    mtimes = {f: os.stat(f).st_mtime_ns for f in reader._pfiles}
    cached = set(Q._decoded_payloads._d)

    shutil.copy(sorted(glob.glob(os.path.join(stream_source,
                                              "*.parquet")))[2], src)
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 1
    finalize_streamed_index(spark, idx, max_segments=3)
    got = search_topk(None, qs, reader=reader)
    added = set(Q._decoded_payloads._d) - cached
    new = set(reader._pfiles) - set(mtimes)
    assert set(mtimes) < set(reader._pfiles)
    assert {f: os.stat(f).st_mtime_ns for f in mtimes} == mtimes
    assert all(f"{os.sep}group=e2{os.sep}" in f for f in new)
    assert reader.payload_rowgroups_fetched - fetched == len(added) > 0
    assert {path for path, _ in added} <= new
    assert got == search_topk(idx, qs)


def _job_ids(spark) -> set[int]:
    """Ids of every Spark job the application status store knows, of
    every thread (the streamed micro-batches run on the streaming
    thread, so a job group set here would not label their jobs)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    seq = sc._jsc.sc().statusStore().jobsList(None)
    return {seq.apply(i).jobId() for i in range(seq.size())}


# Spark jobs of one streamed epoch that runs with a prior epoch present,
# as measured: the micro-batch's isEmpty probe, and the epoch's one
# segment job (its bucket shuffle's map stage and the write under
# adaptive execution) — the bloom probe, the duplicate verify and the
# bloom update all run inside its bucket kernels. The separate
# maybe-url collect and bloom-update jobs took 8 jobs to this 4.
_STREAM_EPOCH_JOBS = 4


def test_stream_epoch_spark_jobs(spark, stream_source, tmp_path):
    """One epoch of stream_ingest_once, counted from the application
    status store."""
    src = _copy_source(stream_source, tmp_path / "jobs_src", n_files=2)
    idx = str(tmp_path / "jobs_idx")
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 2
    shutil.copy(sorted(glob.glob(os.path.join(stream_source,
                                              "*.parquet")))[2], src)
    before = _job_ids(spark)
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 1
    jobs = _job_ids(spark) - before
    assert len(jobs) <= _STREAM_EPOCH_JOBS, sorted(jobs)


# Spark jobs of one compact_index with tombstones, as measured (3): the
# purge's one job over the level-0 and docmap file list, then the
# merge's one exchange into its write kernel (the exchange's map stage
# and the kernel's stage). The bucket count comes from level-0 footers,
# and the level-0 stats and the sidecar scan run on the driver. The two
# Spark purge passes and the max-bucket aggregate took 13 to 7; the
# merge's level-0 schema read, stats collect and second exchange took 7
# to this 3.
_COMPACT_JOBS = 3


# Spark jobs of one finalize_streamed_index, as measured: none. The
# level-0 stats are a pyarrow aggregate on the driver, the dictionary
# and the sidecar are written there, and no posting is rewritten.
# Finalize ran 4 jobs when it copied level-0 into a new postings
# directory, and 2 while its stats were a Spark aggregate.
_FINALIZE_JOBS = 0


# Spark jobs of one delete_urls, as measured: its docmap lookup's
# collect. The read gives the docmap schema; inferring it took one
# more job.
_DELETE_JOBS = 1


def test_finalize_spark_jobs(spark, stream_source, tmp_path):
    """One finalize of a 3-epoch streamed index, counted from the
    application status store."""
    src = _copy_source(stream_source, tmp_path / "finalize_jobs_src",
                       n_files=3)
    idx = str(tmp_path / "finalize_jobs_idx")
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 3
    before = _job_ids(spark)
    finalize_streamed_index(spark, idx, max_segments=3)
    jobs = _job_ids(spark) - before
    assert len(jobs) <= _FINALIZE_JOBS, sorted(jobs)


def test_compact_spark_jobs(spark, stream_source, tmp_path):
    """One compaction that purges tombstones from a 3-epoch streamed
    index, counted from the application status store."""
    from escp_spark.streaming import compact_index, delete_urls

    src = _copy_source(stream_source, tmp_path / "compact_jobs_src",
                       n_files=3)
    idx = str(tmp_path / "compact_jobs_idx")
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 3
    finalize_streamed_index(spark, idx, max_segments=3)
    victims = sorted({r["doc_url"] for r in search_topk(idx, QUERIES)})[:3]
    assert delete_urls(spark, idx, victims) == 3
    before = _job_ids(spark)
    compact_index(spark, idx)
    jobs = _job_ids(spark) - before
    assert len(jobs) <= _COMPACT_JOBS, sorted(jobs)


def test_delete_spark_jobs(spark, stream_source, tmp_path):
    """One delete_urls on a finalized streamed index, counted from the
    application status store."""
    from escp_spark.streaming import delete_urls

    src = _copy_source(stream_source, tmp_path / "delete_jobs_src",
                       n_files=2)
    idx = str(tmp_path / "delete_jobs_idx")
    assert stream_ingest_once(spark, src, idx, _schema(), n_buckets=4) == 2
    finalize_streamed_index(spark, idx, max_segments=3)
    victims = sorted({r["doc_url"] for r in search_topk(idx, QUERIES)})[:2]
    before = _job_ids(spark)
    assert delete_urls(spark, idx, victims) == 2
    jobs = _job_ids(spark) - before
    assert len(jobs) <= _DELETE_JOBS, sorted(jobs)


def _published(idx: str) -> dict:
    """Every published dictionary and postings row (block ids and the
    segment directory included), and the serving rows of QUERIES."""
    import pyarrow.dataset as pads

    from escp_spark.sources.tables import load_manifest

    paths = load_manifest(idx)["paths"]
    rows = {
        kind: sorted(tuple(r.values()) for r in pads.dataset(
            paths[kind], format="parquet", partitioning="hive"
        ).to_table().to_pylist())
        for kind in ("dictionary", "postings")
    }
    rows["search"] = search_topk(idx, QUERIES)
    return rows


def test_distributed_stats_path_matches_driver(spark, tiny_corpus,
                                               stream_source, tmp_path,
                                               monkeypatch):
    """With the driver-stats cap at 0, every level-0 stats pass takes the
    distributed Spark aggregate and _cold_term_bounds: build_index,
    finalize_streamed_index and compact_index publish the same
    dictionary rows, postings rows (block ids included) and serving
    results as on the driver path."""
    import escp_spark.build as B
    from escp_spark.build import build_index
    from escp_spark.streaming import compact_index, delete_urls

    def publishes(tag: str) -> dict:
        out = {}
        built = str(tmp_path / f"built_{tag}")
        build_index(spark, tiny_corpus, built, n_buckets=8, max_segments=3,
                    n_groups=2)
        out["build"] = _published(built)
        src = _copy_source(stream_source, tmp_path / f"src_{tag}", n_files=3)
        idx = str(tmp_path / f"stream_{tag}")
        assert stream_ingest_once(spark, src, idx, _schema(),
                                  n_buckets=4) == 3
        finalize_streamed_index(spark, idx, max_segments=3)
        out["finalize"] = _published(idx)
        victims = sorted({r["doc_url"] for r in out["finalize"]["search"]})
        assert delete_urls(spark, idx, victims[:3]) == 3
        compact_index(spark, idx)
        out["compact"] = _published(idx)
        return out

    driver = publishes("driver")
    monkeypatch.setattr(B, "_DRIVER_STATS_MAX_BLOCKS", 0)
    assert publishes("spark") == driver
