"""The one publish protocol (sources/tables.py): every writer puts its
artifacts into new directories, the manifest swap is the only mutation,
and the swap deletes whatever the new manifest no longer names.

- A writer killed at any stage boundary leaves the last published index
  serving oracle-identical results, to readers opened before and after
  the crash, and a re-run resumes and publishes.
- One reader held across finalize, delete and compact never hits a
  deleted file and stays oracle-identical.
- A delete-only publish keeps a warm reader warm.
- After every publish the index directory holds only what the manifest
  names.
"""

import glob
import hashlib
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest

import escp_spark.build as B
import escp_spark.sidecar as sidecar
from escp_spark.build import SimulatedFailure, build_index
from escp_spark.corpus import reference_queries, write_web_pages_parquet
from escp_spark.oracle import NaiveIndex
from escp_spark.query import IndexReader, search_topk
from escp_spark.sources.tables import load_manifest
from escp_spark.streaming import (
    compact_index,
    delete_urls,
    finalize_streamed_index,
    stream_ingest_once,
)

QUERIES = reference_queries()[:20]
BUILD = {"n_buckets": 4, "max_segments": 2, "n_groups": 2}


class Crash(RuntimeError):
    pass


def _docs(paths) -> dict:
    """url → text after the engine's last-write-wins rule."""
    t = pq.read_table(paths).to_pandas()
    t["tie"] = t["html"].map(lambda h: hashlib.md5(h).hexdigest())
    t = t.sort_values(["url", "warc_ts", "tie"], ascending=[True, False, False])
    t = t.drop_duplicates("url", keep="first")
    return dict(zip(t["url"], t["text"]))


def _assert_oracle(reader, docs: dict, deleted=frozenset()):
    """Serving results equal the exhaustive oracle over ``docs`` (the
    corpus statistics) with the ``deleted`` urls hidden."""
    oracle = NaiveIndex(docs)
    got = {}
    for r in search_topk(None, QUERIES, reader=reader):
        got.setdefault(r["query_id"], []).append((r["doc_url"], r["score"]))
    for q in QUERIES:
        ranked = oracle.search(q["query_text"], q["k"] + len(deleted))
        want = [(u, s) for u, s in ranked if u not in deleted][: q["k"]]
        mine = got.get(q["query_id"], [])
        assert [u for u, _ in mine] == [u for u, _ in want], q["query_id"]
        for (_, s), (_, ws) in zip(mine, want):
            assert s == pytest.approx(ws, abs=1e-6)


def _assert_at_rest(idx: str):
    """The index directory holds exactly the artifacts (and level-0) the
    manifest names. Every named path is a root-level artifact but a
    finalized streamed index's postings, which are its named level-0."""
    m = load_manifest(idx)
    root = os.path.abspath(idx)
    named = {k: os.path.abspath(p) for k, p in m["paths"].items()}
    assert all(os.path.isdir(p) for p in named.values())
    artifacts = {
        os.path.join(root, e) for e in os.listdir(idx)
        if re.match(r"^(postings|docmap|dictionary|rg_stats|tombstones)", e)
    }
    assert artifacts == {p for p in named.values()
                         if os.path.dirname(p) == root}
    elsewhere = {k: p for k, p in named.items() if os.path.dirname(p) != root}
    assert elsewhere in ({}, {"postings": os.path.abspath(m["level0"])})
    staging = os.path.join(idx, "staging", m["build_id"])
    level0 = {os.path.join(os.path.abspath(staging), e)
              for e in os.listdir(staging) if e.startswith("postings_l0")}
    assert level0 == {os.path.abspath(m["level0"])}


def _raise(*a, **kw):
    raise Crash("publish")


def _crash_after(monkeypatch, owner, name):
    """Make ``owner.name`` run, then raise."""
    real = getattr(owner, name)

    def run_then_crash(*a, **kw):
        real(*a, **kw)
        raise Crash(name)

    monkeypatch.setattr(owner, name, run_then_crash)


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    d = tmp_path_factory.mktemp("publish_corpora")
    old, new = str(d / "old.parquet"), str(d / "new.parquet")
    write_web_pages_parquet(old, 300, seed=1)
    write_web_pages_parquet(new, 400, seed=2)
    return old, new


@pytest.fixture(scope="module")
def old_index(spark, corpora, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("publish_old") / "idx")
    build_index(spark, corpora[0], idx, **BUILD)
    return idx


def _copy_index(src: str, dst: str) -> str:
    shutil.copytree(src, dst)
    mp = os.path.join(dst, "_manifest.json")
    with open(mp) as f:
        text = f.read().replace(src, dst)
    with open(mp, "w") as f:
        f.write(text)
    return dst


@pytest.mark.parametrize("kill", [
    "after_shuffle", "after_one_group", "after_merge", "after_sidecar",
])
def test_rebuild_crash_keeps_old_index_and_resumes(
        spark, corpora, old_index, tmp_path, monkeypatch, kill):
    """A rebuild over a DIFFERENT corpus, killed at a stage boundary:
    the old index keeps serving oracle-identical results to a reader
    opened before the crash and to one opened after it; the re-run
    resumes and publishes the new corpus's index."""
    old_docs, new_docs = _docs(corpora[0]), _docs(corpora[1])
    idx = _copy_index(old_index, str(tmp_path / "idx"))
    before = IndexReader(idx)
    _assert_oracle(before, old_docs)

    fail_after = {"after_shuffle": 0, "after_one_group": 1}.get(kill)
    if kill == "after_merge":
        _crash_after(monkeypatch, B, "merge_segments")
    elif kill == "after_sidecar":
        _crash_after(monkeypatch, sidecar, "write_rg_sidecar")
    with pytest.raises((SimulatedFailure, Crash)):
        build_index(spark, corpora[1], idx, fail_after_groups=fail_after,
                    **BUILD)
    monkeypatch.undo()
    _assert_oracle(before, old_docs)
    _assert_oracle(IndexReader(idx), old_docs)

    manifest = build_index(spark, corpora[1], idx, **BUILD)
    assert manifest["n_docs"] == len(new_docs)
    _assert_oracle(IndexReader(idx), new_docs)
    _assert_oracle(before, new_docs)
    _assert_at_rest(idx)


def test_rerun_after_crashed_rebuild_of_other_input(spark, corpora,
                                                   old_index, tmp_path):
    """Build A published, a rebuild B over another input killed after
    one group, then A re-run: each resume key has its own shuffle and
    level-0, so the re-run skips A's committed work without reading B's
    files and republishes A oracle-identical; B's staging is deleted."""
    old_docs = _docs(corpora[0])
    idx = _copy_index(old_index, str(tmp_path / "idx"))
    with pytest.raises(SimulatedFailure):
        build_index(spark, corpora[1], idx, fail_after_groups=1, **BUILD)
    staging = os.path.join(idx, "staging", "build0")
    assert len([e for e in os.listdir(staging)
                if e.startswith("shuffled-")]) == 2
    manifest = build_index(spark, corpora[0], idx, **BUILD)
    assert manifest["n_docs"] == len(old_docs)
    _assert_oracle(IndexReader(idx), old_docs)
    _assert_at_rest(idx)
    assert [e for e in os.listdir(staging) if e.startswith("shuffled-")] == [
        "shuffled" + os.path.basename(manifest["level0"])[len("postings_l0"):]]


def _stream_src(stream_source, dst, n_files: int) -> str:
    """A private source dir holding the first ``n_files`` source files
    (new ones arrive as new streaming epochs)."""
    os.makedirs(dst, exist_ok=True)
    files = sorted(glob.glob(os.path.join(stream_source, "*.parquet")))
    for f in files[len(os.listdir(dst)):n_files]:
        shutil.copy(f, dst)
    return dst


def _schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])


def test_streamed_writers_crash_before_publish(spark, stream_source,
                                               tmp_path, monkeypatch):
    """finalize_streamed_index and compact_index killed between their
    data writes and their publish (compact_index also between its purge
    job and its merge): readers from before and after the crash still
    serve the last published index; re-runs publish, and the re-run
    compaction publishes what an uninterrupted one does."""
    src = _stream_src(stream_source, str(tmp_path / "src"), 2)
    idx = str(tmp_path / "idx")
    stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    finalize_streamed_index(spark, idx, max_segments=3)
    docs2 = _docs(src)
    before = IndexReader(idx)
    victims = sorted({r["doc_url"] for r in search_topk(idx, QUERIES)})[:3]
    delete_urls(spark, idx, victims)
    deleted = frozenset(victims)
    _assert_oracle(before, docs2, deleted)

    _stream_src(stream_source, src, 3)
    stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    monkeypatch.setattr(B, "publish_manifest", _raise)
    with pytest.raises(Crash):
        finalize_streamed_index(spark, idx, max_segments=3)
    monkeypatch.undo()
    for reader in (before, IndexReader(idx)):
        _assert_oracle(reader, docs2, deleted)

    finalize_streamed_index(spark, idx, max_segments=3)
    docs3 = _docs(src)
    _assert_oracle(before, docs3, deleted)
    _assert_at_rest(idx)

    clean = _copy_index(idx, str(tmp_path / "clean"))
    compact_index(spark, clean)
    # Killed at its publish, and killed after the purge job, before the
    # merge: the purged level-0 and docmap directories are orphans.
    for owner, name in ((B, "publish_manifest"), (B, "merge_segments")):
        monkeypatch.setattr(owner, name, _raise)
        with pytest.raises(Crash):
            compact_index(spark, idx)
        monkeypatch.undo()
        for reader in (before, IndexReader(idx)):
            _assert_oracle(reader, docs3, deleted)

    compact_index(spark, idx)
    live = {u: t for u, t in docs3.items() if u not in deleted}
    _assert_oracle(before, live)
    _assert_oracle(IndexReader(idx), live)
    _assert_at_rest(idx)
    assert _published_rows(idx) == _published_rows(clean)


def _published_rows(idx: str) -> dict:
    """Every row of the published postings (block ids included),
    dictionary and docmap, sorted."""
    import pyarrow.dataset as pads

    paths = load_manifest(idx)["paths"]
    return {
        kind: sorted(zip(*pads.dataset(paths[kind], format="parquet")
                         .to_table(columns=cols).to_pydict().values()))
        for kind, cols in (
            ("postings", ["term", "block_id", "n", "doc_id_lo", "doc_id_hi",
                          "max_tf", "min_dl", "sum_tf", "doc_ids", "tfs",
                          "dls"]),
            ("dictionary", ["term", "df", "cf"]),
            ("docmap", ["bucket", "url", "doc_id"]),
        )
    }


def test_long_lived_reader_across_finalize_delete_compact(
        spark, stream_source, tmp_path):
    """One reader held across every streamed-index publish: no
    FileNotFoundError, oracle-identical after each step, and nothing
    left at rest that the manifest does not name."""
    src = _stream_src(stream_source, str(tmp_path / "src"), 1)
    idx = str(tmp_path / "idx")
    stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    finalize_streamed_index(spark, idx, max_segments=3)
    reader = IndexReader(idx)
    docs = _docs(src)
    _assert_oracle(reader, docs)
    _assert_at_rest(idx)

    # An ingested epoch adds level-0 and docmap files; readers see them
    # only once a publish lists them.
    _stream_src(stream_source, src, 2)
    stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    _assert_oracle(reader, docs)
    finalize_streamed_index(spark, idx, max_segments=3)
    docs = _docs(src)
    _assert_oracle(reader, docs)
    _assert_at_rest(idx)

    victims = sorted({r["doc_url"]
                      for r in search_topk(None, QUERIES, reader=reader)})[:4]
    delete_urls(spark, idx, victims)
    _assert_oracle(reader, docs, frozenset(victims))
    _assert_at_rest(idx)

    compact_index(spark, idx)
    _assert_oracle(reader, {u: t for u, t in docs.items()
                            if u not in victims})
    _assert_at_rest(idx)


def test_warm_reader_stays_warm_across_delete(spark, old_index, tmp_path):
    """delete_urls publishes only a new tombstone set, so a warm reader
    keeps every cache: re-running the same queries reads no payload row
    group, and the deleted urls are hidden. k exceeds the corpus so no
    block is pruned and the deletes cannot change which blocks a query
    reads."""
    idx = _copy_index(old_index, str(tmp_path / "idx"))
    qs = [dict(q, k=10_000) for q in QUERIES]
    reader = IndexReader(idx)
    first = search_topk(None, qs, reader=reader)
    fetched = reader.payload_rowgroups_fetched
    assert fetched > 0
    victims = sorted({r["doc_url"] for r in first})[:5]
    delete_urls(spark, idx, victims)
    after = search_topk(None, qs, reader=reader)
    assert reader.payload_rowgroups_fetched == fetched
    assert not {r["doc_url"] for r in after} & set(victims)
    assert {(r["query_id"], r["doc_url"]) for r in after} == {
        (r["query_id"], r["doc_url"]) for r in first
        if r["doc_url"] not in victims}
    _assert_at_rest(idx)


def test_unfinalized_ingest_serves_last_publish(spark, stream_source,
                                                tmp_path, monkeypatch):
    """An ingested epoch adds files to the published level-0 directory,
    which a finalized streamed index serves as its postings. Until the
    next finalize both query paths read only the files the pinned
    sidecar lists: serving and a forced-distributed batch equal the
    last publish's results."""
    import escp_spark.query as Q
    from escp_spark.query import search_topk_spark

    src = _stream_src(stream_source, str(tmp_path / "src"), 2)
    idx = str(tmp_path / "idx")
    stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    finalize_streamed_index(spark, idx, max_segments=3)
    monkeypatch.setattr(Q, "_BIG_MATCHED_POSTINGS", -1)
    want = [(r["query_id"], r["rank"], r["doc_url"], r["score"])
            for r in search_topk(idx, QUERIES)]
    assert [tuple(r) for r in search_topk_spark(spark, idx, QUERIES)
            .collect()] == want

    _stream_src(stream_source, src, 3)
    stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    level0 = load_manifest(idx)["paths"]["postings"]
    published = set(IndexReader(idx)._pfiles)
    assert set(glob.glob(os.path.join(level0, "*", "*.parquet"))) > published
    assert [(r["query_id"], r["rank"], r["doc_url"], r["score"])
            for r in search_topk(idx, QUERIES)] == want
    Q._batch_reader_cache.clear()
    assert [tuple(r) for r in search_topk_spark(spark, idx, QUERIES)
            .collect()] == want


def test_decoded_rowgroups_follow_the_published_postings(
        spark, stream_source, tmp_path):
    """finalize → delete → compact → finalize with one warm reader: after
    every reload the process-wide decoded cache holds no row group of
    this index outside the postings directory the manifest names."""
    import escp_spark.query as Q

    src = _stream_src(stream_source, str(tmp_path / "src"), 2)
    idx = str(tmp_path / "idx")
    root = os.path.join(os.path.abspath(idx), "")

    def assert_cache_follows():
        search_topk(None, QUERIES, reader=reader)
        postings = os.path.join(
            os.path.abspath(load_manifest(idx)["paths"]["postings"]), "")
        mine = [k[0] for k in Q._decoded_payloads._d if k[0].startswith(root)]
        assert mine and all(p.startswith(postings) for p in mine)

    stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    finalize_streamed_index(spark, idx, max_segments=3)
    reader = IndexReader(idx)
    assert_cache_follows()
    victims = sorted({r["doc_url"]
                      for r in search_topk(None, QUERIES, reader=reader)})[:3]
    delete_urls(spark, idx, victims)
    compact_index(spark, idx)
    assert_cache_follows()
    _stream_src(stream_source, src, 3)
    stream_ingest_once(spark, src, idx, _schema(), n_buckets=4)
    finalize_streamed_index(spark, idx, max_segments=3)
    assert_cache_follows()
    live = {u: t for u, t in _docs(src).items() if u not in victims}
    _assert_oracle(reader, live)
    _assert_at_rest(idx)
