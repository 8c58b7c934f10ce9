"""Round-4 scale fixes: byte-budgeted LRU serving caches, searchsorted
interval indexes (docmap url lookup + postings metadata), reader refresh
after republish, the distributed prefix-sum merge bounds, and the
exact-duplicate pre-collapse in the LSH dedup families."""

import json
import os
import shutil

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# _ByteLRU / _IntervalIndex units
# ---------------------------------------------------------------------------

def test_byte_lru_budget_and_recency():
    from escp_spark.query import _ByteLRU

    c = _ByteLRU(100)
    c.put("a", 1, 40)
    c.put("b", 2, 40)
    assert c.get("a") == 1          # refresh "a" → "b" is now oldest
    c.put("c", 3, 40)               # over budget → evict LRU = "b"
    assert c.get("b") is None
    assert c.get("a") == 1 and c.get("c") == 3
    assert c.bytes <= 100
    # The most recent entry survives even if it alone exceeds the budget.
    c.put("huge", 4, 500)
    assert c.get("huge") == 4
    assert len(c) == 1


def test_byte_lru_reput_updates_bytes():
    from escp_spark.query import _ByteLRU

    c = _ByteLRU(100)
    c.put("a", 1, 60)
    c.put("a", 2, 30)
    assert c.bytes == 30 and c.get("a") == 2


@pytest.mark.parametrize("dtype", ["int", "str"])
def test_interval_index_matches_bruteforce(dtype):
    from escp_spark.query import _IntervalIndex

    rng = np.random.default_rng(7)
    n = 300
    if dtype == "int":
        lo = rng.integers(0, 10_000, n)
        hi = lo + rng.integers(0, 500, n)
        los = lo.astype(np.int64)
        his = hi.astype(np.int64)
        probes = list(rng.integers(-10, 11_000, 50))
    else:
        lo = rng.integers(0, 10_000, n)
        hi = lo + rng.integers(0, 500, n)
        los = np.array([f"t{v:05d}" for v in lo], dtype=object)
        his = np.array([f"t{v:05d}" for v in hi], dtype=object)
        probes = [f"t{v:05d}" for v in rng.integers(-10, 11_000, 50)]
    rows = np.arange(n, dtype=np.int64)
    idx = _IntervalIndex(los, his, rows)
    want_all = []
    for x in probes:
        got = sorted(int(r) for r in idx.stab(np.array([x], dtype=los.dtype)))
        want = sorted(
            int(i) for i in range(n) if los[i] <= x <= his[i]
        )
        assert got == want, f"stab({x!r})"
        want_all += want
    # A batch of points stabs each interval once per point inside it.
    assert sorted(int(r) for r in idx.stab(np.array(probes, dtype=los.dtype))) \
        == sorted(want_all)


# ---------------------------------------------------------------------------
# Serving reader: docmap row-group pruning + refresh on republish
# ---------------------------------------------------------------------------

@pytest.fixture()
def copied_index(built_index, tmp_path):
    """A private copy of the shared tiny index whose manifest paths are
    rewritten to the copy (the shared fixture must not be mutated)."""
    src, _ = built_index
    dst = str(tmp_path / "idx_copy")
    shutil.copytree(src, dst)
    mp = os.path.join(dst, "_manifest.json")
    with open(mp) as f:
        doc = json.loads(f.read().replace(src, dst))
    with open(mp, "w") as f:
        json.dump(doc, f)
    return dst


def _republish_docmap_many_rowgroups(index_dir: str, row_group_size: int = 5):
    """Publish the docmap rewritten as ONE doc_id-sorted file with tiny
    row groups (the many-row-group shape of a 100 TB docmap, shrunk),
    the way every writer publishes: a new docmap directory and a new
    sidecar, then the manifest swap (which deletes the old docmap)."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from escp_spark.sidecar import write_rg_sidecar
    from escp_spark.sources.tables import (
        IndexLayout, load_manifest, publish_manifest,
    )

    man = load_manifest(index_dir)
    layout = IndexLayout(index_dir, man["build_id"])
    tbl = pads.dataset(layout.docmap, format="parquet").to_table(
        columns=["bucket", "url", "doc_id"]
    )
    pdf = tbl.to_pandas().sort_values("doc_id").reset_index(drop=True)
    dm_dir = layout.artifact("docmap")
    os.makedirs(dm_dir)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(dm_dir, "part-0.parquet"),
        row_group_size=row_group_size,
    )
    paths = {**layout.paths, "docmap": dm_dir}
    paths["rg_stats"] = write_rg_sidecar(layout, paths)
    publish_manifest(
        layout,
        {k: v for k, v in man.items()
         if k not in ("paths", "build_id", "status", "published_unix",
                      "publish_id")},
        paths,
    )
    assert not os.path.exists(man["paths"]["docmap"]), "old docmap kept"
    return pdf


def test_urls_for_touches_only_candidate_rowgroups(copied_index):
    from escp_spark.query import IndexReader

    pdf = _republish_docmap_many_rowgroups(copied_index)
    reader = IndexReader(copied_index)
    idx, always, rgs = reader._dm_rg_index()
    assert len(rgs) >= 150, "docmap rewrite failed to make many row groups"

    ids = pdf["doc_id"].to_numpy()[np.array([3, 77, 150, 151, 190])]
    urls = reader.urls_for(ids)
    expect = dict(zip(pdf["doc_id"], pdf["url"]))
    assert urls == {int(i): expect[int(i)] for i in ids}
    # The lookup must touch only the stabbed row groups, never scan all.
    assert reader.dm_rowgroups_touched <= len(ids) + len(always)


def test_reader_refreshes_after_republish(copied_index):
    """ADVICE r03: a long-lived reader must re-resolve datasets/caches
    after finalize/compact republish instead of serving stale/deleted
    files."""
    import pyarrow.dataset as pads

    from escp_spark.query import IndexReader

    reader = IndexReader(copied_index)
    # Warm the docmap index + caches on the ORIGINAL layout.
    dm = pads.dataset(reader.manifest["paths"]["docmap"],
                      format="parquet").to_table(columns=["doc_id", "url"])
    some_ids = np.sort(dm["doc_id"].to_numpy())[:5]
    before = reader.urls_for(some_ids)
    assert len(before) == 5
    old_sig = reader._manifest_sig

    # Republish with a REWRITTEN docmap (old files deleted).
    _republish_docmap_many_rowgroups(copied_index)
    after = reader.urls_for(some_ids)
    assert after == before, "refreshed reader must serve the same mapping"
    assert reader._manifest_sig != old_sig, "reader did not re-resolve"


def test_payload_cache_stays_within_byte_budget(copied_index, monkeypatch):
    """Every cache stays within its byte budget; the decoded payload
    cache is charged the resident bytes of its decoded arrays, and a
    budget below the working set evicts decoded row groups without
    changing results."""
    import escp_spark.query as Q
    from escp_spark.corpus import reference_queries
    from escp_spark.query import IndexReader, search_topk

    budget = 4 << 20
    monkeypatch.setattr(Q, "_decoded_payloads", Q._ByteLRU(budget))
    monkeypatch.setattr(IndexReader, "_DM_CACHE_BYTES", budget)
    reader = IndexReader(copied_index, meta_cache_bytes=budget)
    qs, want = reference_queries()[:20], []
    for q in qs:
        want.append(search_topk(copied_index, [q], reader=reader))
        cache = reader._payload_cache
        assert cache.bytes == sum(
            sum(a.nbytes for a in ent) for ent, _ in cache._d.values())
        assert cache.bytes <= budget
        assert reader._meta_cache.bytes <= budget
        assert reader._dm_cache.bytes <= budget

    small_budget = reader._payload_cache.bytes // 2
    monkeypatch.setattr(Q, "_decoded_payloads", Q._ByteLRU(small_budget))
    small = IndexReader(copied_index)
    for q, w in zip(qs, want):
        assert search_topk(copied_index, [q], reader=small) == w
        cache = small._payload_cache
        assert cache.bytes <= small_budget or len(cache) == 1
    assert len(small._payload_cache) < small.payload_rowgroups_fetched


# ---------------------------------------------------------------------------
# Distributed prefix-sum merge bounds
# ---------------------------------------------------------------------------

def test_cold_term_bounds_match_pandas_reference(spark):
    import pandas as pd

    from escp_spark.build import _cold_term_bounds

    rng = np.random.default_rng(3)
    terms = [f"t{i:05d}" for i in range(997)]
    nblocks = rng.integers(1, 60, len(terms))
    pdf = pd.DataFrame({"term": terms, "nblocks": nblocks})
    # Shuffle row order: input order must not matter.
    pdf = pdf.sample(frac=1.0, random_state=5).reset_index(drop=True)
    df = spark.createDataFrame(pdf)

    from escp_spark.build import _bounds_pandas

    for P in (1, 4, 7):
        got = _cold_term_bounds(df, P)
        ref = pdf.sort_values("term").reset_index(drop=True)
        cum = ref["nblocks"].cumsum()
        per_part = max(float(ref["nblocks"].sum()) / float(P), 1.0)
        p = np.floor((cum - ref["nblocks"]) / per_part)
        want = sorted(ref.groupby(p)["term"].min().tolist())
        assert got == want, f"P={P} (distributed)"
        # The merge's small-vocab driver fast path must agree too.
        assert _bounds_pandas(pdf, P) == want, f"P={P} (driver)"


def test_cold_term_bounds_empty(spark):
    from escp_spark.build import _cold_term_bounds

    df = spark.createDataFrame([], "term string, nblocks long")
    assert _cold_term_bounds(df, 4) == []


# ---------------------------------------------------------------------------
# Exact-duplicate pre-collapse in LSH dedup
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def dup_heavy_docs(spark):
    """Corpus with two large exact clusters, near-dups, and a no-token
    text — the shapes the collapse must keep output-identical on."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs through "
        "the quiet forest at dawn looking for breakfast"
    )
    rows = []
    for i in range(25):                      # big exact cluster
        rows.append((100 + i, base))
    for i in range(10):                      # second exact cluster
        rows.append((300 + i, base.replace("fox", "wolf")))
    rows.append((401, base + " extra tail words here"))   # near-dup of base
    rows.append((402, base.replace("dawn", "dusk")))      # near-dup of base
    for i in range(8):                       # unique fillers
        rows.append((500 + i, f"completely different document number {i} "
                              f"with its own vocabulary {i * 7} tokens"))
    for i in range(3):                       # no-token texts (exact dups)
        rows.append((600 + i, "____"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _collected(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_collapse_output_identical(dup_heavy_docs):
    from escp_spark.operators.dedup import minhash_near_dups

    fast = minhash_near_dups(dup_heavy_docs, threshold=0.5,
                             collapse_exact=True)
    direct = minhash_near_dups(dup_heavy_docs, threshold=0.5,
                               collapse_exact=False)
    got, want = _collected(fast), _collected(direct)
    assert got == want
    # Sanity: the exact clusters ARE in the output (C(25,2) + C(10,2)
    # intra pairs at jaccard 1.0, plus cross pairs).
    intra = [p for p in got if p[2] == 1.0]
    assert len(intra) >= 300 + 45
    # No-token exact dups must NOT pair (0/0 Jaccard is undefined).
    assert not any(600 <= p[0] < 610 and 600 <= p[1] < 610 for p in got)


def test_simhash_collapse_output_identical(dup_heavy_docs):
    from escp_spark.operators.dedup import simhash_near_dups

    fast = simhash_near_dups(dup_heavy_docs, max_hamming=6,
                             collapse_exact=True)
    direct = simhash_near_dups(dup_heavy_docs, max_hamming=6,
                               collapse_exact=False)
    assert _collected(fast) == _collected(direct)


def test_collapse_keeps_candidate_generation_linear(dup_heavy_docs):
    """The point of the collapse: LSH banding sees ONE row per distinct
    text, so candidate pairs stay ~linear in exact-cluster size instead
    of B² per cluster."""
    from escp_spark.operators.dedup import (
        _exact_collapse, lsh_candidate_pairs, minhash_signatures,
    )

    direct = lsh_candidate_pairs(
        minhash_signatures(dup_heavy_docs)).count()
    reps, members = _exact_collapse(dup_heavy_docs, "text", "doc_id")
    collapsed = lsh_candidate_pairs(minhash_signatures(reps)).count()
    n_reps = reps.count()
    assert direct >= 25 * 24 // 2  # the big cluster alone is quadratic
    assert collapsed <= n_reps * (n_reps - 1) // 2
    assert collapsed < direct / 5
