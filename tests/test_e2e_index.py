"""End-to-end: build → query (both paths) → rank-identical vs oracle.

This is the engine's esdiff analog (jobs/validationjob.go +
esdiff/esdiff.go): the Spark-built index must produce top-k results
rank-identical on doc_url with scores equal to atol 1e-6 against the
exhaustive pure-Python oracle, on the full reference query set.
"""

import numpy as np
import pytest

from escp_spark.corpus import reference_queries
from escp_spark.oracle import NaiveIndex
from escp_spark.query import IndexReader, search_topk, search_topk_spark


@pytest.fixture(scope="module")
def oracle_results(oracle_docs):
    ix = NaiveIndex(oracle_docs)
    return {
        q["query_id"]: ix.search(q["query_text"], q["k"])
        for q in reference_queries()
    }


def _assert_rank_identical(got_rows, oracle_results):
    got = {}
    for r in got_rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_url"], r["score"]))
    for qid, expected in oracle_results.items():
        mine = sorted(got.get(qid, []))
        assert len(mine) == len(expected), (
            f"query {qid}: {len(mine)} results vs oracle {len(expected)}"
        )
        for (rank, url, score), (e_url, e_score) in zip(mine, expected):
            assert url == e_url, (
                f"query {qid} rank {rank}: got {url} expected {e_url}"
            )
            assert score == pytest.approx(e_score, abs=1e-6), (
                f"query {qid} rank {rank}: score {score} vs {e_score}"
            )


def test_manifest_stats(built_index, oracle_docs):
    _, manifest = built_index
    assert manifest["status"] == "published"
    assert manifest["n_docs"] == len(oracle_docs)
    ix = NaiveIndex(oracle_docs)
    assert manifest["avgdl"] == pytest.approx(ix.avgdl, rel=1e-12)


def test_serving_path_rank_identical(built_index, oracle_results):
    index_dir, _ = built_index
    rows = search_topk(index_dir, reference_queries())
    _assert_rank_identical(rows, oracle_results)


def _assert_batch_rank_identical(spark, index_dir, oracle_results):
    df = search_topk_spark(spark, index_dir, reference_queries())
    rows = [r.asDict() for r in df.collect()]
    assert [(r["query_id"], r["rank"]) for r in rows] == sorted(
        (r["query_id"], r["rank"]) for r in rows
    )
    _assert_rank_identical(rows, oracle_results)


def test_spark_batch_path_rank_identical(spark, built_index, oracle_results):
    """At the default switch a test-sized batch is scored on the driver by
    the serving scorer; it is rank-identical to the exhaustive oracle."""
    index_dir, _ = built_index
    _assert_batch_rank_identical(spark, index_dir, oracle_results)


def test_spark_batch_large_index_strategy_rank_identical(
    spark, built_index, oracle_results, monkeypatch
):
    """The batch path picks its strategy by the batch's matched work
    (driver-side serving scorer at or below _BIG_MATCHED_POSTINGS; decode
    rebalance + one-pass partition-local top-k cut above). Force the
    distributed side on the same tiny index and assert the
    exhaustive-oracle rank identity holds there too — the two sides must
    be output-identical at every scale."""
    import escp_spark.query as Q

    monkeypatch.setattr(Q, "_BIG_MATCHED_POSTINGS", -1)
    index_dir, _ = built_index
    _assert_batch_rank_identical(spark, index_dir, oracle_results)


def test_batch_path_spark_jobs_by_switch_side(spark, built_index,
                                              batch_sides):
    """A batch at or below the switch starts no Spark job, collect of its
    result included; a batch forced above it runs the distributed cut.
    Both sides fill the phase telemetry the benchmark reads."""
    import escp_spark.query as Q

    index_dir, _ = built_index
    sc = spark.sparkContext
    jobs = {}
    try:
        for side in batch_sides():
            Q.last_batch_timings.clear()
            group = f"batch_side_{side}"
            sc.setJobGroup(group, group)
            rows = search_topk_spark(
                spark, index_dir, reference_queries()
            ).collect()
            jobs[side] = sc.statusTracker().getJobIdsForGroup(group)
            assert rows
            assert {"plan", "score", "cut", "candidates"} <= set(
                Q.last_batch_timings
            ), side
            assert Q.last_batch_timings["candidates"] >= len(rows), side
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs["driver"] == []
    assert len(jobs["spark"]) >= 1
    assert Q.last_batch_timings["cut"] > 0.0


def test_extraction_byte_identical(spark, tiny_corpus):
    """V3: extracted text == ground-truth text column for every url."""
    from pyspark.sql import functions as F

    from escp_spark.build import extract_text_udf

    df = spark.read.parquet(tiny_corpus)
    bad = df.filter(extract_text_udf(F.col("html")) != F.col("text")).count()
    assert bad == 0


def test_count_conservation(spark, built_index, oracle_docs):
    """V1 + ledger invariant: distinct urls in == docs indexed == Σ ledger."""
    from pyspark.sql import functions as F

    from escp_spark.build import read_ledger
    from escp_spark.sources.tables import IndexLayout, load_manifest

    index_dir, manifest = built_index
    layout = IndexLayout(index_dir, manifest["build_id"])
    dm = spark.read.parquet(layout.docmap)
    assert dm.count() == len(oracle_docs)
    assert dm.select("url").distinct().count() == len(oracle_docs)
    led = read_ledger(spark, layout)
    seg_docs = (
        led.filter(F.col("stage") == "segment").agg(F.sum("docs")).collect()[0][0]
    )
    assert seg_docs == len(oracle_docs)


def test_docids_unique_and_bucketed(spark, built_index):
    from pyspark.sql import functions as F

    from escp_spark.sources.tables import IndexLayout

    index_dir, manifest = built_index
    layout = IndexLayout(index_dir, manifest["build_id"])
    dm = spark.read.parquet(layout.docmap)
    assert dm.select("doc_id").distinct().count() == dm.count()
    # docid encodes its bucket
    bad = dm.filter(
        (F.col("doc_id") / F.lit(1 << 40)).cast("int") != F.col("bucket")
    ).count()
    assert bad == 0


def _md5_bucket(url: str, n_buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(url.encode()).hexdigest()[:8], 16) % n_buckets


def _docmap_bucket_files(docmap_dir: str) -> dict:
    """{bucket: (group dir name, table)} of a docmap the segment kernel
    wrote: each group directory holds only ``bucket-NNNNN.parquet``
    files, none hidden (no temp file left behind), none without rows,
    and no bucket in two files."""
    import os
    import re

    import pyarrow.parquet as pq

    out = {}
    for group in sorted(os.listdir(docmap_dir)):
        for name in sorted(os.listdir(os.path.join(docmap_dir, group))):
            m = re.fullmatch(r"bucket-(\d{5,})\.parquet", name)
            assert m, f"unexpected file {group}/{name}"
            tbl = pq.read_table(os.path.join(docmap_dir, group, name))
            assert tbl.num_rows > 0, f"zero-row docmap file {group}/{name}"
            b = int(m.group(1))
            assert b not in out, f"bucket {b} written twice"
            out[b] = (group, tbl)
    return out


def _assert_no_zero_row_level0(level0_dir: str) -> None:
    """Every level-0 group directory holds only parquet files with rows
    (the segment writes unlink the zero-row file an empty first output
    partition leaves)."""
    import glob
    import os

    import pyarrow.parquet as pq

    groups = glob.glob(os.path.join(level0_dir, "group=*"))
    assert groups
    for g in groups:
        files = glob.glob(os.path.join(g, "*.parquet"))
        assert files, g
        for f in files:
            assert pq.read_metadata(f).num_rows > 0, f


def _expected_docmap(bucket: int, urls) -> dict:
    """One bucket's rows by an independent sort: doc_id = bucket<<40 |
    rank of the url within its bucket."""
    urls = sorted(urls)
    return {"bucket": [bucket] * len(urls), "url": urls,
            "doc_id": [(bucket << 40) | r for r in range(len(urls))]}


def test_fused_docmap_built_index(built_index, oracle_docs):
    """The per-bucket segment kernel writes the docmap: one file per
    non-empty bucket in its checkpoint group's directory, holding
    exactly that bucket's urls with their rank doc ids."""
    from collections import defaultdict

    _, manifest = built_index
    n_buckets, n_groups = manifest["n_buckets"], 4  # the fixture's build
    by_bucket = defaultdict(list)
    for url in oracle_docs:
        by_bucket[_md5_bucket(url, n_buckets)].append(url)
    files = _docmap_bucket_files(manifest["paths"]["docmap"])
    assert sorted(files) == sorted(by_bucket)
    for b, (group, tbl) in files.items():
        assert group == f"group={b % n_groups}"
        assert tbl.to_pydict() == _expected_docmap(b, by_bucket[b]), b
    _assert_no_zero_row_level0(manifest["level0"])


def test_fused_docmap_streamed_index(spark, stream_source, tmp_path):
    """Streamed epochs write their docmap through the same kernel: per
    epoch group, one file per effective bucket (epoch·n_buckets + md5
    bucket) with rank doc ids, and every source url exactly once."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from escp_spark.streaming import (
        finalize_streamed_index, stream_ingest_once,
    )

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    idx, n_buckets = str(tmp_path / "stream_idx"), 4
    assert stream_ingest_once(spark, stream_source, idx, schema,
                              n_buckets=n_buckets) == 3
    manifest = finalize_streamed_index(spark, idx, max_segments=3)
    files = _docmap_bucket_files(manifest["paths"]["docmap"])
    seen = []
    for b, (group, tbl) in files.items():
        assert group == f"group=e{b // n_buckets}"
        urls = tbl.column("url").to_pylist()
        assert {_md5_bucket(u, n_buckets) for u in urls} == {b % n_buckets}
        assert tbl.to_pydict() == _expected_docmap(b, urls), b
        seen += urls
    assert sorted(seen) == sorted(
        pq.read_table(stream_source).column("url").to_pylist())
    assert {g for g, _ in files.values()} == {"group=e0", "group=e1",
                                              "group=e2"}
    _assert_no_zero_row_level0(manifest["level0"])


def test_segment_kernel_docmap_without_tokens_and_rerun(tmp_path):
    """A bucket whose docs have no tokens keeps its docmap rows (the
    kernel writes them before its zero-token return), and a rerun of
    the kernel on the same bucket — rows in another order, as a retried
    task may see them — leaves a byte-identical file and no temp file."""
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from escp_spark.build import _build_bucket_segment, docmap_file_name

    pdf = pd.DataFrame({"url": ["u/b", "u/a", "u/c"], "bucket": [3, 3, 3],
                        "text": ["", None, "!!! ---"]})
    assert len(_build_bucket_segment(pdf, str(tmp_path))) == 0
    path = tmp_path / docmap_file_name(3)
    first = path.read_bytes()
    assert pq.read_table(path).to_pydict() == _expected_docmap(
        3, ["u/a", "u/b", "u/c"])
    _build_bucket_segment(pdf.iloc[::-1].reset_index(drop=True),
                          str(tmp_path))
    assert path.read_bytes() == first
    assert os.listdir(tmp_path) == [docmap_file_name(3)]


# Spark jobs of one build_index over ``tiny_corpus`` (n_groups=4), as
# measured (13): the corpus read's schema inference and the wide pass
# (its exchange's map stage and the write), then per checkpoint group
# ONE fused segment job (two Spark jobs under adaptive execution: its
# bucket shuffle's map stage and the write), then the merge's one
# exchange (its map stage and the write kernel's stage). The staging and
# level-0 reads give their schemas and the level-0 stats are aggregated
# on the driver. The separate docmap job per group took 29 jobs to 21,
# and the staging schema reads, the merge's level-0 schema read, stats
# collect and second exchange took 21 to this 13.
_BUILD_JOBS = 13


def test_build_spark_jobs(spark, tiny_corpus, tmp_path):
    """build_index runs one segment job per checkpoint group: its job
    count stays at the measured value."""
    from escp_spark.build import build_index

    sc = spark.sparkContext
    group = "build_jobs"
    try:
        sc.setJobGroup(group, group)
        build_index(spark, tiny_corpus, str(tmp_path / "idx"), n_buckets=8,
                    max_segments=3, n_groups=4)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= _BUILD_JOBS, jobs


def test_spark_batch_path_small_k_bounded_topk(spark, built_index,
                                              batch_sides):
    """The batch path's tie-complete top-k cut is rank-safe on both sides
    of its switch (the partition-local tie-complete cut in
    query.search_topk_spark; the serving scorer's kth-score cut in
    query._serve_topk): small k on a hot term — where the cut actually
    discards candidates — must stay identical to the serving path,
    including boundary ties (the cut keeps score >= kth, so (score desc,
    url asc) stays exact)."""
    index_dir, _ = built_index
    qs = [
        {"query_id": 0, "query_text": "t00000", "k": 1},
        {"query_id": 1, "query_text": "t00001 t00002", "k": 2},
        {"query_id": 2, "query_text": "t00000 t00003", "k": 3},
    ]
    exp = {
        (r["query_id"], r["rank"]): (r["doc_url"], round(r["score"], 6))
        for r in search_topk(index_dir, qs)
    }
    for side in batch_sides():
        got = {
            (r.query_id, r.rank): (r.doc_url, round(r.score, 6))
            for r in search_topk_spark(spark, index_dir, qs).collect()
        }
        assert got == exp and got, side


def test_merge_consolidates_tail_blocks(spark, built_index):
    """D5/B9 (esindex optimize 'contiguous postings'): after the merge,
    each (segment, term) carries at most ONE block shorter than
    BLOCK_SIZE, and the manifest advertises the coarsened pruning
    window that keeps WAND exact over consolidated blocks."""
    from pyspark.sql import functions as F

    from escp_spark.codec import BLOCK_SIZE
    from escp_spark.sources.tables import load_manifest

    index_dir, manifest = built_index
    assert manifest["consolidation_shift"] > 40, manifest
    paths = load_manifest(index_dir)["paths"]
    p = spark.read.parquet(paths["postings"])
    frag = (
        p.filter(F.col("n") < BLOCK_SIZE)
        .groupBy("segment", "term")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert frag == 0, f"{frag} (segment, term) groups still fragmented"
    # Consolidation containment: every block's [doc_id_lo, doc_id_hi]
    # stays inside one segment-wide window (spanning blocks never cross
    # segments).
    s = manifest["consolidation_shift"]
    bad = p.filter(
        F.shiftright(F.col("doc_id_lo"), s) != F.shiftright(F.col("doc_id_hi"), s)
    ).count()
    assert bad == 0


def test_range_merge_stats_driven_placement(spark, tiny_corpus, tmp_path,
                                           monkeypatch):
    """Range placement driven by the B8 block-count stats —
    hot terms spread across >= merge_parallelism/2 files (no straggler
    task/file), cold terms cluster into one file per (hash-group,
    segment), and rank identity survives the re-layout."""
    from pyspark.sql import functions as F

    import escp_spark.build as B
    from escp_spark.build import build_index, merge_segments
    from escp_spark.corpus import reference_queries
    from escp_spark.oracle import NaiveIndex
    from escp_spark.query import search_topk
    from escp_spark.sources.tables import IndexLayout

    d = str(tmp_path / "idx_range")
    build_index(spark, tiny_corpus, d, n_buckets=8, max_segments=3, n_groups=1)
    layout = IndexLayout(d, "build0")
    P = 8
    monkeypatch.setattr(B, "_HOT_TERM_BLOCKS", 4)
    merged = merge_segments(spark, layout, n_buckets=8, max_segments=3,
                            merge_parallelism=P)
    p = spark.read.parquet(merged["postings"])
    hot_files = (
        p.filter(F.col("term") == "t00000")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert hot_files >= P / 2, f"hot term in only {hot_files} files"
    # Cold by the SAME stat the merge used: level-0 block count <= cut.
    l0_counts = (
        spark.read.parquet(layout.postings_l0).groupBy("term").count()
    )
    cold_terms = l0_counts.filter(F.col("count") <= 4).select("term")
    cold = (
        p.select("term", F.input_file_name().alias("f"))
        .join(cold_terms, "term", "left_semi")
        .groupBy("term")
        .agg(F.countDistinct("f").alias("nf"))
        .agg(F.max("nf"))
        .first()[0]
    )
    assert cold is not None and cold <= 2  # one file per (term, segment)
    # Rank identity through the re-layout (V6).
    rows = search_topk(d, reference_queries()[:3])
    assert rows


def test_murmur3_matches_spark_hash(spark):
    """The driver-side Murmur3 used to plan the segment stage's shuffle
    partition count (build._balanced_shuffle_partitions) must equal
    Spark's F.hash for int keys — a mismatch only costs balance, never
    correctness, but then the planner would be guessing."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from escp_spark.build import _balanced_shuffle_partitions, _murmur3_int32

    vals = list(range(300)) + [-1, -7, 2**31 - 1, -(2**31)]
    rows = spark.createDataFrame([(v,) for v in vals], "b int").select(
        "b", F.hash("b").alias("h")
    ).collect()
    assert all(_murmur3_int32(r.b) == r.h for r in rows)
    # The planner never lowers the partition count and never exceeds 3x.
    for nb, ng, p in ((64, 2, 32), (8, 2, 32), (16, 4, 8)):
        groups = [[b for b in range(nb) if b % ng == g] for g in range(ng)]
        n = _balanced_shuffle_partitions(groups, p, T.IntegerType())
        assert p <= n <= 3 * p


def test_balanced_shuffle_planner_rejects_long_key():
    """The planner models Spark's hashInt; a long bucket column is hashed
    with hashLong, so planning for it must fail loudly, not mis-balance."""
    from pyspark.sql import types as T

    from escp_spark.build import _balanced_shuffle_partitions

    with pytest.raises(TypeError, match="int key"):
        _balanced_shuffle_partitions([[0, 2], [1, 3]], 4, T.LongType())


# Spark jobs of one forced-distributed batch over ``built_index``, as
# measured: the one toArrow action runs as one job per stage of its one
# shuffle under adaptive execution (the scan's schema is given, so no
# footer-reading job precedes it).
_DISTRIBUTED_BATCH_JOBS = 2


def test_distributed_batch_is_one_pass_and_caches_nothing(
        spark, built_index, monkeypatch):
    """The distributed side cuts each partition's tie-complete top-k in
    the aggregation's stage and collects the survivors once: nothing is
    left persisted, the tie-complete candidates are a subset of the
    collected survivors, and the job count stays at its measured value."""
    import escp_spark.query as Q

    monkeypatch.setattr(Q, "_BIG_MATCHED_POSTINGS", -1)
    index_dir, _ = built_index
    sc = spark.sparkContext
    group = "batch_one_pass"
    try:
        sc.setJobGroup(group, group)
        rows = search_topk_spark(spark, index_dir,
                                 reference_queries()).collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    assert len(sc._jsc.getPersistentRDDs()) == 0
    bt = Q.last_batch_timings
    assert len(rows) <= bt["candidates"] <= bt["survivors"], bt
    assert len(jobs) <= _DISTRIBUTED_BATCH_JOBS, jobs
