"""Block-max pruning property tests (SURVEY.md §5.1: WAND pruning never
changes top-k vs exhaustive): a multi-block corpus where pruning actually
fires, checked rank-identical against the exhaustive oracle."""

import hashlib
import math

import numpy as np
import pytest
import pyarrow.parquet as pq

import escp_spark.build as B
import escp_spark.query as Q
from escp_spark.build import build_index
from escp_spark.corpus import write_web_pages_parquet
from escp_spark.oracle import NaiveIndex
from escp_spark.query import IndexReader, search_topk


@pytest.fixture(scope="module")
def big_index(spark, tmp_path_factory):
    """4,000 docs in 8 buckets → hot terms span many blocks and buckets,
    so both bucket-skip and block-level pruning have room to fire."""
    d = tmp_path_factory.mktemp("bigidx")
    corpus = str(d / "pages.parquet")
    write_web_pages_parquet(corpus, 4000, seed=7)
    idx = str(d / "idx")
    build_index(spark, corpus, idx, n_buckets=8, max_segments=2, n_groups=1)
    return corpus, idx


@pytest.fixture(scope="module")
def big_oracle(big_index):
    corpus, _ = big_index
    t = pq.read_table(corpus).to_pandas()
    t["tie"] = t["html"].map(lambda h: hashlib.md5(h).hexdigest())
    t = t.sort_values(["url", "warc_ts", "tie"], ascending=[True, False, False])
    t = t.drop_duplicates("url", keep="first")
    return NaiveIndex(dict(zip(t["url"], t["text"])))


def test_pruned_rank_identical_many_queries(big_index, big_oracle):
    _, idx = big_index
    reader = IndexReader(idx)
    rng = np.random.default_rng(3)
    queries = []
    # Hot/hot, hot/rare, 3-term, single-term — 40 random mixes.
    for qid in range(40):
        terms = [f"t{int(i):05d}" for i in rng.zipf(1.2, size=rng.integers(1, 4)) if i < 10000]
        if not terms:
            terms = ["t00000"]
        queries.append({"query_id": qid, "query_text": " ".join(terms), "k": 10})
    got = search_topk(idx, queries, reader=reader)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in queries:
        want = big_oracle.search(q["query_text"], q["k"])
        mine = sorted(by_q.get(q["query_id"], []), key=lambda r: r["rank"])
        assert len(mine) == len(want), q
        for m, (url, score) in zip(mine, want):
            assert m["doc_url"] == url, (q, m, url)
            assert m["score"] == pytest.approx(score, abs=1e-6)


def test_pruning_actually_fires(big_index):
    """Hot+rare is where block-max WAND wins: the rare term's idf drives θ
    above any hot-only contribution, so the hot term's blocks in windows
    without rare docs cannot reach θ and get skipped — the pruning must
    actually fire, not just exist. The rare term is picked from the
    DICTIONARY (df 3-20) so the query really is hot+rare on this corpus;
    its consolidated tails also exercise the spanning-block path."""
    import pyarrow.dataset as pads

    _, idx = big_index
    reader = IndexReader(idx)
    d = pads.dataset(
        reader.manifest["paths"]["dictionary"], format="parquet"
    ).to_table().to_pandas()
    rare = d[(d.df >= 3) & (d.df <= 20)].sort_values("term").iloc[0].term
    search_topk(
        idx, [{"query_id": 0, "query_text": f"t00000 {rare}", "k": 3}],
        reader=reader,
    )
    st = Q.last_prune_stats
    assert st["total_blocks"] > 20, st
    assert st["spanning_blocks"] > 0, f"consolidation not exercised: {st}"
    assert st["pruned_blocks"] > 0, f"no pruning happened: {st}"
    assert st["kept_blocks"] + st["pruned_blocks"] == st["total_blocks"]


def test_payload_io_pruned(spark, big_index, tmp_path_factory, monkeypatch):
    """Metadata-first serving (VERDICT r02 #2): payload bytes read must
    track KEPT blocks, not all blocks of the query terms. Build with
    small posting row groups (the skip unit) so skipping is observable
    at test scale, then assert the hot+rare query fetches strictly fewer
    payload row groups/bytes than the terms' total."""
    corpus, _ = big_index
    idx = str(tmp_path_factory.mktemp("ioidx") / "idx")
    monkeypatch.setattr(B, "POSTINGS_ROW_GROUP_BYTES", 2048)
    build_index(spark, corpus, idx, n_buckets=8, max_segments=2, n_groups=1)
    reader = IndexReader(idx)
    import pyarrow.dataset as pads

    d = pads.dataset(
        reader.manifest["paths"]["dictionary"], format="parquet"
    ).to_table().to_pandas()
    rare = d[(d.df >= 3) & (d.df <= 20)].sort_values("term").iloc[0].term
    terms = ["t00000", rare]
    meta = reader.meta_for_terms(terms)
    rgs_all = set(zip(meta["__fi"], meta["__rg"]))
    total_bytes = sum(reader._payload_sizes[k] for k in rgs_all)
    search_topk(
        idx, [{"query_id": 0, "query_text": f"t00000 {rare}", "k": 3}],
        reader=reader,
    )
    st = Q.last_prune_stats
    assert st["pruned_blocks"] > 0, st
    assert 0 < st["payload_rowgroups_fetched"] < len(rgs_all), (st, len(rgs_all))
    assert 0 < st["payload_bytes_fetched"] < total_bytes, (st, total_bytes)


def test_dictionary_fallback_scan_matches_cache(big_index):
    """When the term dictionary exceeds the RAM cap, term_dfs falls back
    to a filtered scan — both paths must agree."""
    _, idx = big_index
    cached = IndexReader(idx)
    scanning = IndexReader(idx)
    scanning._DICT_CACHE_MAX_ROWS = 0  # force the too-big path
    terms = ["t00000", "t00123", "t09500", "zzzznotaword"]
    assert cached.term_dfs(terms) == scanning.term_dfs(terms)
    assert scanning._dict_cache == {}  # sentinel, not a populated cache


def test_single_term_hot_query_correct(big_index, big_oracle):
    _, idx = big_index
    got = search_topk(idx, [{"query_id": 0, "query_text": "t00000", "k": 5}])
    want = big_oracle.search("t00000", 5)
    assert [(r["doc_url"], round(r["score"], 6)) for r in got] == [
        (u, round(s, 6)) for u, s in want
    ]


def test_windows_decoded_in_geometric_batches(big_index):
    """A query fetches its payloads once for the spanning blocks plus
    once per batch of 1, 2, 4, … bucket windows — O(log windows) fetch
    and decode calls, never one per window. The hot+rare query also
    prunes; the hot+hot query prunes nothing, so there a decode per
    window would take one call per bucket."""
    import pyarrow.dataset as pads

    _, idx = big_index
    reader = IndexReader(idx)
    d = pads.dataset(
        reader.manifest["paths"]["dictionary"], format="parquet"
    ).to_table().to_pandas()
    rare = d[(d.df >= 3) & (d.df <= 20)].sort_values("term").iloc[0].term
    fetch, calls = reader.fetch_payloads, []

    def counting_fetch(*args):
        calls.append(len(args[2]))
        return fetch(*args)

    reader.fetch_payloads = counting_fetch
    n_buckets = reader.manifest["n_buckets"]
    for text, k in ((f"t00000 {rare}", 3), ("t00000 t00001", 10)):
        calls.clear()
        search_topk(idx, [{"query_id": 0, "query_text": text, "k": k}],
                    reader=reader)
        st = Q.last_prune_stats
        assert 0 < len(calls) <= math.ceil(math.log2(n_buckets)) + 2, (
            text, calls, st)
        assert st["kept_blocks"] + st["pruned_blocks"] == st["total_blocks"]
        if rare in text:
            assert st["pruned_blocks"] > 0, st
        else:
            assert st["n_buckets"] == n_buckets, st


def test_equal_docs_in_different_windows_tie_exactly(spark, tmp_path,
                                                      batch_sides):
    """One text under two urls in different buckets — so in different
    windows, decoded in different window batches — scores bit-identically
    and comes back url-ascending, on the serving path and on both sides
    of the batch switch. The serving scorer sums each doc's
    contributions in a fixed term order, so the blocks and batches a
    doc's postings were decoded in cannot move a last float digit."""
    import pyarrow as pa

    from escp_spark.analyzer import wrap_html
    from escp_spark.corpus import generate_web_pages, hash_md5_int
    from escp_spark.query import search_topk_spark

    n_buckets = 8
    cols = generate_web_pages(300, seed=5)
    text = "tiealpha tiebeta tiebeta tiegamma tiegamma tiegamma t00000 t00001"
    a = "https://tie.example/a"
    b = next(u for u in (f"https://tie.example/b{i}" for i in range(64))
             if hash_md5_int(u) % n_buckets != hash_md5_int(a) % n_buckets)
    for url in (b, a):
        cols["url"].append(url)
        cols["text"].append(text)
        cols["html"].append(wrap_html(f"page {url}", text))
        cols["lang"].append("en")
        cols["warc_ts"].append(cols["warc_ts"][-1])
    corpus = str(tmp_path / "pages.parquet")
    pq.write_table(pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    }), corpus)
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx, n_buckets=n_buckets, max_segments=2,
                n_groups=1)
    queries = [
        {"query_id": 0, "query_text": "tiealpha tiebeta tiegamma t00000",
         "k": 5},
        {"query_id": 1, "query_text": "tiegamma tiealpha", "k": 5},
    ]

    def check(rows, path):
        for q in queries:
            top = sorted((r for r in rows if r[0] == q["query_id"]),
                         key=lambda r: r[1])[:2]
            assert [r[2] for r in top] == [a, b], (path, q, top)
            assert top[0][3] == top[1][3], (path, q, top)

    check([(r["query_id"], r["rank"], r["doc_url"], r["score"])
           for r in search_topk(idx, queries)], "serving")
    for side in batch_sides():
        check([tuple(r) for r in search_topk_spark(spark, idx,
                                                   queries).collect()], side)


def _write_pages(path, cols, extra):
    """Write generated web pages plus ``extra`` (url, text) docs as a
    build_index input."""
    import pyarrow as pa

    from escp_spark.analyzer import wrap_html

    for url, text in extra:
        cols["url"].append(url)
        cols["text"].append(text)
        cols["html"].append(wrap_html(f"page {url}", text))
        cols["lang"].append("en")
        cols["warc_ts"].append(cols["warc_ts"][-1])
    pq.write_table(pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    }), path)


def _forget_decoded(idx: str) -> None:
    """Drop ``idx``'s row groups from the process-wide decoded cache."""
    import os

    root = os.path.join(os.path.abspath(idx), "")
    Q._decoded_payloads.retain(lambda key: not key[0].startswith(root))


def _assert_fetch_matches_per_block_decode(idx) -> int:
    """Fetch the decoded postings of every block of ``idx``, in shuffled
    request order, and compare with a per-block decode of the row
    groups' own cells. Returns the number of blocks with a payload
    ending in a NUL byte."""
    from escp_spark.codec import decode_block

    _forget_decoded(idx)
    reader = IndexReader(idx)
    src, want, nul_tails = [], [], 0
    for fi, path in enumerate(reader._pfiles):
        pf = pq.ParquetFile(path)
        for rgi in range(pf.num_row_groups):
            cells = pf.read_row_group(
                rgi, columns=["n"] + Q.PAYLOAD_COLS).to_pydict()
            for pos, n in enumerate(cells["n"]):
                bufs = [cells[c][pos] for c in Q.PAYLOAD_COLS]
                nul_tails += any(b.endswith(b"\x00") for b in bufs)
                src.append((fi, rgi, pos, n))
                want.append(decode_block(*bufs, n))
    perm = np.random.default_rng(0).permutation(len(src))
    fi, rg, pos, n = np.array(src, dtype=np.int64)[perm].T
    got = reader.fetch_payloads(fi, rg, pos)
    assert reader.payload_rowgroups_fetched == len(set(zip(fi, rg)))
    for c in range(3):
        np.testing.assert_array_equal(
            got[c], np.concatenate([want[i][c] for i in perm]))
    np.testing.assert_array_equal(got[3], np.repeat(np.arange(n.size), n))
    return nul_tails


def test_fetch_payloads_gathers_every_block(spark, big_index, tmp_path):
    """fetch_payloads returns the requested blocks' decoded postings back
    to back in request order, each row group read and decoded once: it
    equals a per-block decode for every block of ``big_index`` (many row
    groups) and of a small one-bucket index (one row group) whose
    smallest url (doc id 0) alone holds a term. That term's one-posting
    block stores doc id 0 as the single byte 0x00, a payload that ends
    in NUL."""
    from escp_spark.corpus import generate_web_pages

    _assert_fetch_matches_per_block_decode(big_index[1])
    corpus = str(tmp_path / "pages.parquet")
    _write_pages(corpus, generate_web_pages(40, seed=3),
                 [("https://0.example/", "nulonly t00000 t00001")])
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx, n_buckets=1, max_segments=1, n_groups=1)
    assert IndexReader(idx).urls_for(np.array([0])) == {
        0: "https://0.example/"}
    assert _assert_fetch_matches_per_block_decode(idx) > 0


def _count_decodes(monkeypatch) -> list:
    calls = []
    real = Q.decode_blocks_bulk

    def counting(*args):
        calls.append(len(args[3]))
        return real(*args)

    monkeypatch.setattr(Q, "decode_blocks_bulk", counting)
    return calls


def test_repeated_query_decodes_nothing(big_index, monkeypatch):
    """Each payload row group is decoded once per process: re-running a
    query on a warm reader, or running it on a second reader of the same
    index, makes no decode_blocks_bulk call and reads no row group."""
    _, idx = big_index
    _forget_decoded(idx)
    calls = _count_decodes(monkeypatch)
    qs = [{"query_id": 0, "query_text": "t00000 t00001 t00042", "k": 10},
          {"query_id": 1, "query_text": "t00007", "k": 3}]
    reader = IndexReader(idx)
    first = search_topk(idx, qs, reader=reader)
    assert len(calls) == reader.payload_rowgroups_fetched > 0
    calls.clear()
    assert search_topk(idx, qs, reader=reader) == first
    other = IndexReader(idx)
    assert search_topk(idx, qs, reader=other) == first
    assert calls == [] and other.payload_rowgroups_fetched == 0


def test_serving_and_batch_readers_share_decoded_rowgroups(spark, big_index):
    """The batch path's driver-side reader and a serving reader of the
    same index hold ONE decoded copy of each row group: the batch
    reader reads none of the row groups the serving reader decoded."""
    import os

    from escp_spark.query import search_topk_spark

    _, idx = big_index
    _forget_decoded(idx)
    Q._batch_reader_cache.clear()
    qs = [{"query_id": 0, "query_text": "t00000 t00003", "k": 5},
          {"query_id": 1, "query_text": "t00011 t00120", "k": 5}]
    reader = IndexReader(idx)
    want = [(r["query_id"], r["rank"], r["doc_url"], r["score"])
            for r in search_topk(idx, qs, reader=reader)]
    got = [tuple(r) for r in search_topk_spark(spark, idx, qs).collect()]
    assert got == want
    batch = Q._batch_reader_cache[0][1]
    assert batch._payload_cache is reader._payload_cache
    assert batch.payload_rowgroups_fetched == 0
    root = os.path.join(os.path.abspath(idx), "")
    entries = [k for k in Q._decoded_payloads._d if k[0].startswith(root)]
    assert len(entries) == reader.payload_rowgroups_fetched > 0


def test_tie_plateau_across_partitions(spark, tmp_path, batch_sides):
    """64 docs of one text under distinct urls spread over the buckets,
    hence over the distributed cut's shuffle partitions: each partition
    holds several of the tied rows. The top 5 must be the 5 smallest
    urls with bit-equal scores on both sides of the batch switch — a
    partition-local cut that kept exactly k rows per partition, not
    every row tied with its k-th, would lose some of them."""
    from escp_spark.corpus import generate_web_pages, hash_md5_int
    from escp_spark.query import search_topk_spark

    urls = [f"https://plateau.example/{i:03d}" for i in range(64)]
    assert len({hash_md5_int(u) % 8 for u in urls}) == 8
    corpus = str(tmp_path / "pages.parquet")
    _write_pages(corpus, generate_web_pages(200, seed=9),
                 [(u, "plateauword plateauword t00001") for u in urls])
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, idx, n_buckets=8, max_segments=2, n_groups=1)
    queries = [{"query_id": 0, "query_text": "plateauword", "k": 5}]
    for side in batch_sides():
        rows = search_topk_spark(spark, idx, queries).collect()
        assert [r.doc_url for r in rows] == urls[:5], side
        assert len({r.score for r in rows}) == 1, side


def test_distributed_batch_bit_equal_to_serving(spark, big_index, tiny_corpus,
                                                stream_source, tmp_path,
                                                monkeypatch):
    """The forced-distributed batch returns exactly the serving path's
    rows, scores equal by ``==``: every block overlapping a bucket window
    reaches that window's kernel masked to it, so each (query, doc) is
    summed in one kernel in ascending term order, as the serving scorer
    sums it. Checked on ``big_index`` (consolidated blocks spanning
    windows), on an index with tombstones inside spanning blocks and on
    a streamed index of several epochs (effective buckets)."""
    from pyspark.sql import types as T

    from escp_spark.query import search_topk_spark
    from escp_spark.streaming import (delete_urls, finalize_streamed_index,
                                      stream_ingest_once)

    rng = np.random.default_rng(11)
    queries = [{"query_id": 0, "query_text": "t00000 t00001", "k": 1},
               {"query_id": 1, "query_text": "t00003", "k": 400}]
    for qid in range(2, 30):
        terms = [f"t{int(i):05d}" for i in rng.zipf(1.2, size=rng.integers(1, 4))
                 if i < 10000] or ["t00002"]
        queries.append({"query_id": qid, "query_text": " ".join(terms),
                        "k": 10})
    monkeypatch.setattr(Q, "_BIG_MATCHED_POSTINGS", -1)

    def check(idx):
        Q._batch_reader_cache.clear()
        want = [(r["query_id"], r["rank"], r["doc_url"], r["score"])
                for r in search_topk(idx, queries)]
        got = [tuple(r) for r in search_topk_spark(spark, idx,
                                                   queries).collect()]
        assert want and got == want, idx

    def spanning(idx):
        meta = IndexReader(idx).meta_for_terms(["t00000", "t00001", "t00003"])
        lo, hi = meta["doc_id_lo"] >> 40, meta["doc_id_hi"] >> 40
        return meta["doc_id_lo"][lo != hi], hi.max()

    assert spanning(big_index[1])[0].size
    check(big_index[1])

    idx = str(tmp_path / "tomb")
    build_index(spark, tiny_corpus, idx, n_buckets=8, max_segments=2,
                n_groups=1)
    top = sorted({r["doc_url"] for r in search_topk(idx, queries)})
    in_spans = spanning(idx)[0]
    assert in_spans.size
    urls = IndexReader(idx).urls_for(in_spans)
    assert delete_urls(spark, idx, top[::5] + sorted(urls.values())[:5]) > 5
    check(idx)

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    idx = str(tmp_path / "stream")
    assert stream_ingest_once(spark, stream_source, idx, schema,
                              n_buckets=4) >= 2
    finalize_streamed_index(spark, idx, max_segments=3)
    assert spanning(idx)[1] >= 4  # effective buckets past the first epoch
    check(idx)
