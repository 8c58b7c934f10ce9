"""Delete/compact lifecycle for BATCH-built indexes (VERDICT r04
missing #3), plus the delete-AFTER-compact property (next-#5): the
tombstone mask must stay exact against spanning consolidated blocks.

Reference anchor: per-doc delete-on-success semantics,
esbulk/esbulk.go:190-197."""

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from escp_spark.query import search_topk, search_topk_spark
from escp_spark.streaming import compact_index, delete_urls, load_tombstones

QUERIES = [
    {"query_id": 0, "query_text": "t00000", "k": 10},
    {"query_id": 1, "query_text": "t00000 t09500", "k": 10},
    {"query_id": 2, "query_text": "t00001 t00200", "k": 5},
]


def _rows(res):
    return [(r["query_id"], r["rank"], r["doc_url"], round(r["score"], 9))
            for r in res]


@pytest.fixture()
def batch_idx(spark, tiny_corpus, tmp_path):
    from escp_spark.build import build_index

    idx = str(tmp_path / "batch_del_idx")
    build_index(spark, tiny_corpus, idx, n_buckets=8, max_segments=3,
                n_groups=2)
    return idx


def test_batch_soft_delete_hides_docs_both_paths(spark, batch_idx,
                                                 batch_sides):
    before = search_topk(batch_idx, QUERIES)
    assert before
    victims = sorted({r["doc_url"] for r in before})[:3]
    n = delete_urls(spark, batch_idx, victims)
    assert n == 3

    after = search_topk(batch_idx, QUERIES)
    assert not {r["doc_url"] for r in after} & set(victims)
    survivors_before = {
        (r["query_id"], r["doc_url"]) for r in before
        if r["doc_url"] not in victims
    }
    assert survivors_before <= {(r["query_id"], r["doc_url"]) for r in after}

    for side in batch_sides():
        batch = search_topk_spark(spark, batch_idx, QUERIES).collect()
        assert not {r.doc_url for r in batch} & set(victims), side
        assert sorted((r.query_id, r.rank, r.doc_url, round(r.score, 9))
                      for r in batch) == sorted(_rows(after)), side


def test_batch_compact_purges_and_matches_fresh_build(spark, tiny_corpus,
                                                      batch_idx, tmp_path):
    """After delete + compact on a build_index output, results EXACTLY
    equal a fresh build over the live corpus; no tombstoned doc_id
    survives physically."""
    from pyspark.sql import functions as F

    from escp_spark.build import build_index
    from escp_spark.codec import decode_blocks_bulk
    from escp_spark.sources.tables import IndexLayout, load_manifest

    base = search_topk(batch_idx, QUERIES)
    victims = sorted({r["doc_url"] for r in base})[:4]
    delete_urls(spark, batch_idx, victims)
    tomb = load_tombstones(batch_idx)
    assert tomb.size == 4

    manifest = compact_index(spark, batch_idx)
    assert load_tombstones(batch_idx).size == 0
    # Batch identity survives compaction (no manifest rewrite to
    # streaming defaults — ADVICE r04).
    assert manifest["build_id"] == "build0"
    assert manifest["n_buckets"] == 8
    assert load_manifest(batch_idx)["max_segments"] == 3

    layout = IndexLayout(batch_idx, "build0")
    dm = spark.read.parquet(layout.docmap)
    assert dm.filter(F.col("doc_id").isin([int(t) for t in tomb])).count() == 0
    assert dm.filter(F.col("url").isin(victims)).count() == 0
    rows = spark.read.parquet(layout.postings).select(
        "n", "doc_ids", "tfs", "dls"
    ).collect()
    ids, _, _, _ = decode_blocks_bulk(
        [r.doc_ids for r in rows], [r.tfs for r in rows],
        [r.dls for r in rows], np.array([r.n for r in rows]),
    )
    assert not set(ids.astype(np.int64).tolist()) & set(tomb.tolist())

    # Fresh build over the live corpus (drop every version of the victim
    # urls — LWW over the remainder is unchanged for live urls).
    full = pq.read_table(tiny_corpus)
    mask = [u not in set(victims) for u in full.column("url").to_pylist()]
    live = str(tmp_path / "live.parquet")
    pq.write_table(full.filter(pa.array(mask)), live)
    fresh = str(tmp_path / "fresh_idx")
    build_index(spark, live, fresh, n_buckets=8, max_segments=3, n_groups=2)

    got = sorted(_rows(search_topk(batch_idx, QUERIES)))
    want = sorted(_rows(search_topk(fresh, QUERIES)))
    assert got == want, "post-compact results differ from a fresh build"


def test_delete_after_compact_exact_on_spanning_blocks(spark, tiny_corpus,
                                                       batch_idx,
                                                       oracle_docs,
                                                       batch_sides):
    """Compact FIRST (producing consolidated spanning blocks), then
    delete: the tombstone mask inside the spanning-block decode
    (query._prune_and_score step 0) must stay exact — both paths equal
    the exhaustive oracle over the live set (same stale corpus stats:
    per-doc BM25 scores don't change on soft-delete, only the ranking
    pool shrinks)."""
    import escp_spark.query as Q
    from escp_spark.oracle import NaiveIndex

    compact_index(spark, batch_idx)  # no deletes: pure re-layout
    base = search_topk(batch_idx, QUERIES)
    victims = sorted({r["doc_url"] for r in base})[:3]
    delete_urls(spark, batch_idx, victims)

    after = search_topk(batch_idx, QUERIES)
    # The queries must actually exercise spanning blocks for this test
    # to mean anything.
    assert Q.last_prune_stats["spanning_blocks"] > 0

    ix = NaiveIndex(oracle_docs)
    got = {}
    for r in after:
        got.setdefault(r["query_id"], []).append((r["doc_url"], r["score"]))
    for q in QUERIES:
        ranked = ix.search(q["query_text"], q["k"] + len(victims))
        live = [(u, s) for u, s in ranked if u not in victims][: q["k"]]
        mine = got.get(q["query_id"], [])
        assert [u for u, _ in mine] == [u for u, _ in live], q["query_id"]
        for (_, s), (_, es) in zip(mine, live):
            assert s == pytest.approx(es, abs=1e-6)

    for side in batch_sides():
        batch = search_topk_spark(spark, batch_idx, QUERIES).collect()
        assert sorted((r.query_id, r.rank, r.doc_url, round(r.score, 9))
                      for r in batch) == sorted(_rows(after)), side


def test_no_broadcast_files_left_behind(spark, batch_idx, monkeypatch,
                                        stream_source, tmp_path):
    """Every sc.broadcast pickles to a file in the driver's temp dir that
    only Broadcast.destroy() removes. A forced-distributed batch over an
    index with tombstones (term ids, tombstones and per-query k),
    a compaction that purges them, and a two-epoch streamed ingest (the
    second epoch probes the url bloom of the first) leave the temp dir as
    they found it."""
    import shutil

    from pyspark.sql import types as T

    import escp_spark.query as Q
    from escp_spark.streaming import stream_ingest_once

    monkeypatch.setattr(Q, "_BIG_MATCHED_POSTINGS", -1)
    tmp = spark.sparkContext._temp_dir
    victims = sorted({r["doc_url"] for r in search_topk(batch_idx,
                                                        QUERIES)})[:2]
    delete_urls(spark, batch_idx, victims)
    n_files = len(os.listdir(tmp))
    assert search_topk_spark(spark, batch_idx, QUERIES).collect()
    assert len(os.listdir(tmp)) == n_files
    compact_index(spark, batch_idx)
    assert load_tombstones(batch_idx).size == 0
    assert len(os.listdir(tmp)) == n_files

    src = tmp_path / "src"
    src.mkdir()
    for f in sorted(glob.glob(os.path.join(stream_source, "*.parquet")))[:2]:
        shutil.copy(f, str(src))
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    assert stream_ingest_once(spark, str(src), str(tmp_path / "stream_idx"),
                              schema, n_buckets=4) == 2
    assert len(os.listdir(tmp)) == n_files
