"""The merge's write kernel, without Spark: one partition's sorted level-0
blocks are written as term-sorted postings files with every (segment,
term)'s tails consolidated, and a rerun over the same rows writes the
same bytes, however the rows arrive batched, so a retried merge task is
idempotent."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from escp_spark.build import (
    BLOCK_SIZE,
    CONSOLIDATED_BLOCK_BASE,
    MERGE_BLOCK_SHIFT,
    _build_bucket_segment,
    _write_merged_partition,
)
from escp_spark.codec import decode_blocks_bulk

# The rows Spark hands the kernel: nullable, as a parquet scan reads them.
MERGED_ARROW = pa.schema([
    ("segment", pa.int32()), ("term", pa.string()), ("block_id", pa.int64()),
    ("n", pa.int32()), ("doc_id_lo", pa.int64()), ("doc_id_hi", pa.int64()),
    ("max_tf", pa.int32()), ("min_dl", pa.int32()), ("sum_tf", pa.int64()),
    ("doc_ids", pa.binary()), ("tfs", pa.binary()), ("dls", pa.binary()),
])
SEG_SHIFT = 1  # buckets 0-1 → segment 0, buckets 2-3 → segment 1


def _sorted_level0(tmp: str) -> pa.Table:
    """Level-0 blocks of 4 buckets from the segment kernel, as merge rows
    sorted by (segment, term, doc_id_lo). "common" is in every doc (full
    blocks plus one tail per bucket), "even" in every other doc, and the
    ``w*`` terms in a few docs each (one tail per bucket, or a single)."""
    frames = []
    for bucket in range(4):
        n = 200 + 40 * bucket
        pdf = pd.DataFrame({
            "url": [f"http://b{bucket}.example/{i:05d}" for i in range(n)],
            "bucket": bucket,
            "text": [f"common w{i % 37:02d} w{(i * 7) % 53:02d}"
                     + (" even" if i % 2 == 0 else "")
                     + (f" solo{bucket}" if i == 3 else "")
                     for i in range(n)],
        })
        dm = os.path.join(tmp, f"dm{bucket}")
        os.makedirs(dm)
        frames.append(_build_bucket_segment(pdf, dm))
    l0 = pd.concat(frames, ignore_index=True)
    bucket = l0["bucket"].astype("int64")
    l0["segment"] = (bucket // (1 << SEG_SHIFT)).astype("int32")
    l0["block_id"] = bucket * (1 << MERGE_BLOCK_SHIFT) \
        + l0["block_id"].astype("int64")
    l0 = l0.sort_values(["segment", "term", "doc_id_lo"], kind="mergesort")
    return pa.Table.from_pandas(
        l0[MERGED_ARROW.names], preserve_index=False).cast(MERGED_ARROW)


def _run(tbl: pa.Table, out: str, batch_rows: int, rg_bytes: int):
    return _write_merged_partition(
        iter(tbl.to_batches(max_chunksize=batch_rows)), out, 7, rg_bytes)


def _files(out: str) -> dict[str, bytes]:
    got = {}
    for d, _, names in os.walk(out):
        for name in names:
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                got[os.path.relpath(path, out)] = f.read()
    return got


def _postings(table: pa.Table) -> dict:
    """(segment, term) → sorted (doc_id, tf, dl) triples."""
    out: dict = {}
    for r in table.to_pylist():
        ids, tfs, dls, _ = decode_blocks_bulk(
            [r["doc_ids"]], [r["tfs"]], [r["dls"]], [r["n"]])
        out.setdefault((r["segment"], r["term"]), []).extend(
            zip(ids.tolist(), tfs.tolist(), dls.tolist()))
    return {k: sorted(v) for k, v in out.items()}


def test_merge_write_kernel_consolidates_and_reruns_identically(tmp_path):
    src = _sorted_level0(str(tmp_path))
    out = str(tmp_path / "postings")
    os.makedirs(out)
    files = _run(src, out, batch_rows=10_000, rg_bytes=8 << 20)
    first = _files(out)
    assert sorted(first) == ["segment=0/part-00007.parquet",
                             "segment=1/part-00007.parquet"]
    assert sorted(files) == [(0, pq.read_metadata(
        os.path.join(out, "segment=0/part-00007.parquet")).num_rows),
        (1, pq.read_metadata(
            os.path.join(out, "segment=1/part-00007.parquet")).num_rows)]
    # A rerun into the same directory, with the rows batched otherwise
    # (groups and segments split across batches), rewrites the same
    # bytes and leaves no hidden temp file.
    _run(src, out, batch_rows=7, rg_bytes=8 << 20)
    assert _files(out) == first

    parts = []
    for seg in (0, 1):
        t = pq.read_table(os.path.join(out, f"segment={seg}"))
        terms = t.column("term").to_pylist()
        assert terms == sorted(terms)  # each file is term-sorted
        parts.append(t.append_column(
            "segment", pa.array([seg] * t.num_rows, pa.int32())))
    got = pa.concat_tables(parts)
    # Every posting survives, in the same (segment, term).
    assert _postings(got) == _postings(src)
    # ≤1 short block per (segment, term); full blocks keep their ids,
    # and only groups with ≥2 tails are re-encoded.
    short = got.filter(pa.compute.less(got["n"], BLOCK_SIZE)).to_pandas()
    assert not short.duplicated(["segment", "term"]).any()
    src_pd = src.to_pandas()
    full_ids = set(src_pd.loc[src_pd["n"] == BLOCK_SIZE, "block_id"])
    got_pd = got.to_pandas()
    assert set(got_pd.loc[got_pd["n"] == BLOCK_SIZE, "block_id"]) >= full_ids
    tails = src_pd[src_pd["n"] < BLOCK_SIZE].groupby(["segment", "term"]).size()
    assert (tails > 1).any() and (tails == 1).any()  # both kinds of group
    consolidated = got_pd[got_pd["block_id"] >= CONSOLIDATED_BLOCK_BASE]
    assert set(zip(consolidated["segment"], consolidated["term"])) == \
        set(tails[tails > 1].index)
    singles = src_pd[src_pd.set_index(["segment", "term"]).index.isin(
        tails[tails == 1].index) & (src_pd["n"] < BLOCK_SIZE)]
    assert set(singles["block_id"]) <= set(got_pd["block_id"])


def test_merge_write_kernel_row_groups_follow_the_byte_target(tmp_path):
    src = _sorted_level0(str(tmp_path))
    out = str(tmp_path / "postings")
    os.makedirs(out)
    _run(src, out, batch_rows=50, rg_bytes=2048)
    first = _files(out)
    _run(src, out, batch_rows=10_000, rg_bytes=2048)
    assert _files(out) == first
    for name in first:
        md = pq.read_metadata(os.path.join(out, name))
        col = md.schema.names.index("term")
        ranges = [(md.row_group(i).column(col).statistics.min,
                   md.row_group(i).column(col).statistics.max)
                  for i in range(md.num_row_groups)]
        assert len(ranges) >= 4, (name, ranges)
        # Term-sorted rows: consecutive row groups meet at most at one
        # boundary term, so each row group's footer range is narrow.
        assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:])), ranges
        n_terms = len(set(pq.read_table(os.path.join(out, name),
                                        columns=["term"]).column("term")
                          .to_pylist()))
        for lo, hi in ranges:
            assert sum(lo <= t <= hi for t in sorted(set(
                src.column("term").to_pylist()))) < n_terms
