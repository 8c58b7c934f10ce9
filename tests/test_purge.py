"""The compaction purge's per-file work, without Spark: each level-0 and
docmap file is rewritten without its tombstoned postings and rows, and a
file whose doc-id range holds no tombstone keeps every row. A rerun over
the same inputs writes the same bytes, so a retried purge task is
idempotent."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from escp_spark.build import DOC_BUCKET_SHIFT, _build_bucket_segment
from escp_spark.codec import decode_blocks_bulk
from escp_spark.streaming.deletes import _purge_level0_file, purge_docmap

L0_SCHEMA = pa.schema([
    pa.field("bucket", pa.int32(), False),
    pa.field("term", pa.string(), False),
    pa.field("block_id", pa.int64(), False),
    pa.field("n", pa.int32(), False),
    pa.field("doc_id_lo", pa.int64(), False),
    pa.field("doc_id_hi", pa.int64(), False),
    pa.field("max_tf", pa.int32(), False),
    pa.field("min_dl", pa.int32(), False),
    pa.field("sum_tf", pa.int64(), False),
    pa.field("doc_ids", pa.binary(), False),
    pa.field("tfs", pa.binary(), False),
    pa.field("dls", pa.binary(), False),
])

# Bucket 0: every doc holds "common" (3 blocks of ≤128 postings), "even"
# on even ranks, and a term of its own; bucket 1 holds no tombstone.
N_DOCS = {0: 300, 1: 50}
DEAD_RANKS = [5, 130, 131, 200]


def _write_bucket(tmp, bucket: int) -> tuple[str, str]:
    n = N_DOCS[bucket]
    pdf = pd.DataFrame({
        "url": [f"http://b{bucket}.example/{i:05d}" for i in range(n)],
        "bucket": bucket,
        "text": [f"common u{bucket}x{i}" + " common" * (i % 3)
                 + (" even" if i % 2 == 0 else "") for i in range(n)],
    })
    dm_dir = os.path.join(tmp, "docmap", f"group={bucket}")
    os.makedirs(dm_dir)
    blocks = _build_bucket_segment(pdf, dm_dir)
    l0 = os.path.join(tmp, "l0", f"group={bucket}", "part-0.parquet")
    os.makedirs(os.path.dirname(l0))
    table = pa.Table.from_pandas(blocks, preserve_index=False).cast(L0_SCHEMA)
    # Several row groups, so some row groups of an affected file hold no
    # tombstone and pass through as they are.
    pq.write_table(table, l0, row_group_size=64)
    return l0, os.path.join(dm_dir, f"bucket-{bucket:05d}.parquet")


def _decoded(table: pa.Table) -> dict:
    """(term, block_id) → (doc_ids, tfs, dls) of each block."""
    out = {}
    for r in table.to_pylist():
        ids, tfs, dls, _ = decode_blocks_bulk(
            [r["doc_ids"]], [r["tfs"]], [r["dls"]], [r["n"]])
        out[(r["term"], r["block_id"])] = (ids, tfs, dls)
    return out


def _dst(path: str, tag: str) -> str:
    out = path.replace(os.sep + "l0" + os.sep, os.sep + tag + os.sep)
    out = out.replace(os.sep + "docmap" + os.sep, os.sep + tag + "_dm" + os.sep)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    return out


def test_purge_files_rewrite_and_rerun(tmp_path):
    tmp = str(tmp_path)
    (l0_0, dm_0), (l0_1, dm_1) = _write_bucket(tmp, 0), _write_bucket(tmp, 1)
    tomb = np.array(DEAD_RANKS, dtype=np.int64)  # bucket 0's doc ids
    assert tomb.max() < 1 << DOC_BUCKET_SHIFT

    # A file whose doc-id range holds no tombstone keeps every row.
    for src, purge in ((l0_1, _purge_level0_file), (dm_1, purge_docmap)):
        dst = _dst(src, "a")
        assert purge(src, dst, tomb) is False
        assert pq.read_table(dst).equals(pq.read_table(src))

    # An affected level-0 file: affected blocks lose exactly the
    # tombstoned postings with their stats recomputed, a fully deleted
    # block is dropped, untouched blocks stay as they were, in order.
    dst = _dst(l0_0, "a")
    assert _purge_level0_file(l0_0, dst, tomb) is True
    before, after = pq.read_table(l0_0), pq.read_table(dst)
    assert after.schema.equals(before.schema)
    assert pq.ParquetFile(dst).metadata.row_group(0).column(0) \
        .compression == "ZSTD"
    want = {}
    for key, (ids, tfs, dls) in _decoded(before).items():
        keep = ~np.isin(ids.astype(np.int64), tomb)
        if keep.any():
            want[key] = (ids[keep], tfs[keep], dls[keep])
    got = _decoded(after)
    assert list(got) == [k for k in _decoded(before) if k in want]
    dropped = set(_decoded(before)) - set(got)
    assert dropped == {(f"u0x{r}", 0) for r in DEAD_RANKS}
    for key, (ids, tfs, dls) in want.items():
        for a, b in zip(got[key], (ids, tfs, dls)):
            np.testing.assert_array_equal(a, b)
    stats = {(r["term"], r["block_id"]): r for r in after.to_pylist()}
    old = {(r["term"], r["block_id"]): r for r in before.to_pylist()}
    changed = set()
    for key, (ids, tfs, dls) in want.items():
        r = stats[key]
        assert r["bucket"] == 0
        assert (r["n"], r["doc_id_lo"], r["doc_id_hi"], r["max_tf"],
                r["min_dl"], r["sum_tf"]) == (
            len(ids), int(ids.min()), int(ids.max()), int(tfs.max()),
            int(dls.min()), int(tfs.sum()))
        if r["n"] != old[key]["n"]:
            changed.add(key)
        else:
            assert r == old[key]
    assert changed == {("common", 0), ("common", 1), ("even", 0)}

    # An affected docmap file keeps its live rows, url-sorted.
    dm_dst = _dst(dm_0, "a")
    assert purge_docmap(dm_0, dm_dst, tomb) is True
    rows = pq.read_table(dm_dst).to_pylist()
    live = [r for r in pq.read_table(dm_0).to_pylist()
            if r["doc_id"] not in set(tomb.tolist())]
    assert rows == live and len(rows) == N_DOCS[0] - len(DEAD_RANKS)

    # A rerun (a retried task) writes the same bytes under the same name,
    # and leaves no temp file beside it.
    for src, purge in ((l0_0, _purge_level0_file), (dm_0, purge_docmap),
                       (l0_1, _purge_level0_file)):
        first = open(_dst(src, "a"), "rb").read()
        purge(src, _dst(src, "a"), tomb)
        purge(src, _dst(src, "b"), tomb)
        assert open(_dst(src, "a"), "rb").read() == first
        assert open(_dst(src, "b"), "rb").read() == first
        assert os.listdir(os.path.dirname(_dst(src, "a"))) == [
            os.path.basename(_dst(src, "a"))]
