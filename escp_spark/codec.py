"""Posting-block codec: delta + varint, 128-doc blocks, block-max metadata.

This is the engine's Lucene-segment-format analog (the reference delegated
all of this to Elasticsearch/Lucene; see SURVEY.md §2.8 B6). Posting lists
are stored as fixed-size blocks of (docid, tf, dl) triples:

- docids are sorted, delta-encoded, then LEB128-varint packed;
- tfs and dls are varint packed as-is (small positive ints);
- per block we keep ``n`` (docs in block), ``max_tf`` and ``min_dl`` —
  together with global idf/avgdl these give a *true upper bound* on any
  BM25 contribution from the block, which is what block-max pruning
  (query.py) needs; plus first/last docid for docid-range skipping.

Encode/decode are pure numpy (no per-element Python loops) so they run
fast inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # docs per posting block (Lucene uses 128 too)
CODEC_VERSION = 1


_ENC_CHUNK = 1 << 18  # values per encode chunk — keeps temporaries ~2 MB


def varint_encode_with_sizes(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array, fully vectorized; also returns the
    per-value byte counts so callers can split the stream into blocks
    without re-encoding.

    Work is proportional to TOTAL OUTPUT BYTES, not n × max-byte-width:
    byte position g is scattered only for the values that actually need
    a g-th byte. The docid-delta stream made the old (n, groups) matrix
    pathological — one 7-byte block-start docid forced 7 uint64 columns
    (~56 bytes/value of fresh temporaries) for millions of 1-byte
    deltas, and on this host fresh pages cost more than arithmetic (see
    CLAUDE.md); the scatter path writes ~1.2 bytes/value for that
    stream and chunks all temporaries to ~2 MB.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    vmax = int(v.max())
    n_groups = max(1, (vmax.bit_length() + 6) // 7)
    # Per-value byte count = 1 + (# of 7-bit thresholds crossed).
    nbytes = np.ones(n, dtype=np.int64)
    for g in range(1, n_groups):
        nbytes += v >= np.uint64(1 << (7 * g))
    ends = np.cumsum(nbytes)
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    for i0 in range(0, n, _ENC_CHUNK):
        i1 = min(i0 + _ENC_CHUNK, n)
        vc = v[i0:i1]
        nbc = nbytes[i0:i1]
        st = ends[i0:i1] - nbc  # start offset of each value's bytes
        for g in range(n_groups):
            if g == 0:
                idx, vals, nb = st, vc, nbc
            else:
                m = nbc > g
                if not m.any():
                    break
                idx = st[m] + g
                vals = vc[m]
                nb = nbc[m]
            b = ((vals >> np.uint64(7 * g)) & np.uint64(0x7F)).astype(np.uint8)
            b[nb > g + 1] |= np.uint8(0x80)  # continuation bit
            out[idx] = b
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    return varint_encode_with_sizes(values)[0]


def varint_decode(buf: bytes, count: int) -> np.ndarray:
    """Decode ``count`` LEB128 values from ``buf`` — vectorized.

    Mirror of the encoder's scatter: byte position g is GATHERED only for
    the values that actually have a g-th byte, so work is proportional to
    total bytes (≈1.2×count for posting streams), not count × max-width,
    and there is no np.add.at (an order of magnitude slower than the
    masked gather on these sizes)."""
    if count == 0:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    term_pos = np.flatnonzero((raw & 0x80) == 0)  # last byte of each value
    nbytes = np.diff(term_pos, prepend=-1)
    starts = term_pos - (nbytes - 1)
    out = (raw[starts] & np.uint8(0x7F)).astype(np.uint64)
    for g in range(1, int(nbytes.max())):
        m = nbytes > g
        out[m] |= (raw[starts[m] + g] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(
            7 * g
        )
    return out


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    d = np.empty_like(a)
    d[0] = a[0]
    d[1:] = a[1:] - a[:-1]
    return d


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(deltas, dtype=np.uint64)


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray):
    """Split one term's sorted posting list into encoded blocks.

    Returns a list of dicts matching the ``postings`` table row schema
    (minus term/segment columns, added by the caller).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    dls = np.asarray(dls, dtype=np.uint64)
    blocks = []
    for b, off in enumerate(range(0, doc_ids.size, BLOCK_SIZE)):
        ids = doc_ids[off : off + BLOCK_SIZE]
        t = tfs[off : off + BLOCK_SIZE]
        d = dls[off : off + BLOCK_SIZE]
        blocks.append(
            {
                "block_id": b,
                "n": int(ids.size),
                "doc_id_lo": int(ids[0]),
                "doc_id_hi": int(ids[-1]),
                "max_tf": int(t.max()),
                "min_dl": int(d.min()),
                "sum_tf": int(t.sum()),
                "doc_ids": varint_encode(delta_encode(ids)),
                "tfs": varint_encode(t),
                "dls": varint_encode(d),
            }
        )
    return blocks


def decode_block(doc_ids_buf: bytes, tfs_buf: bytes, dls_buf: bytes, n: int):
    """Decode one block → (doc_ids, tfs, dls) uint64 arrays."""
    ids = delta_decode(varint_decode(doc_ids_buf, n))
    tfs = varint_decode(tfs_buf, n)
    dls = varint_decode(dls_buf, n)
    return ids, tfs, dls


def encode_posting_frame(
    term_codes: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Encode an entire segment's postings in one vectorized pass.

    Inputs are per (term, doc) pair, sorted by (term_code, doc_id). Every
    term/block boundary, delta, varint byte, and block-max aggregate is
    computed with array ops; the only Python-level loop is the final
    bytes-slicing list comprehension over blocks (O(n_blocks) cheap
    slices). This replaces a per-term encode loop that dominated build
    time (hundreds of thousands of tiny numpy calls per bucket).

    Returns a dict of columns for the postings table: term_code, block_id,
    n, doc_id_lo, doc_id_hi, max_tf, min_dl, sum_tf (numpy arrays) and
    doc_ids/tfs/dls (lists of bytes).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    dls = np.asarray(dls, dtype=np.uint64)
    n_pairs = doc_ids.size
    if n_pairs == 0:
        empty_i = np.empty(0, dtype=np.int64)
        return {
            "term_code": empty_i, "block_id": empty_i, "n": empty_i,
            "doc_id_lo": empty_i, "doc_id_hi": empty_i, "max_tf": empty_i,
            "min_dl": empty_i, "sum_tf": empty_i,
            "doc_ids": [], "tfs": [], "dls": [],
        }

    new_term = np.empty(n_pairs, dtype=bool)
    new_term[0] = True
    new_term[1:] = term_codes[1:] != term_codes[:-1]
    term_ordinal = np.cumsum(new_term) - 1
    t_starts = np.flatnonzero(new_term)
    pos_in_term = np.arange(n_pairs) - t_starts[term_ordinal]
    b_starts = np.flatnonzero(pos_in_term % block_size == 0)
    b_ends = np.append(b_starts[1:], n_pairs)
    n_per = (b_ends - b_starts).astype(np.int64)

    # Delta-encode docids with a reset at every block start (term starts
    # are always block starts, so cross-term wraparound never survives).
    d = np.empty_like(doc_ids)
    d[0] = doc_ids[0]
    d[1:] = doc_ids[1:] - doc_ids[:-1]
    d[b_starts] = doc_ids[b_starts]

    def _enc(vals):
        buf, sizes = varint_encode_with_sizes(vals)
        off = np.concatenate(([0], np.cumsum(sizes)))
        return [buf[off[s] : off[e]] for s, e in zip(b_starts, b_ends)]

    return {
        "term_code": term_codes[b_starts],
        "block_id": (pos_in_term[b_starts] // block_size).astype(np.int64),
        "n": n_per,
        "doc_id_lo": doc_ids[b_starts].astype(np.int64),
        "doc_id_hi": doc_ids[b_ends - 1].astype(np.int64),
        "max_tf": np.maximum.reduceat(tfs, b_starts).astype(np.int64),
        "min_dl": np.minimum.reduceat(dls, b_starts).astype(np.int64),
        "sum_tf": np.add.reduceat(tfs, b_starts).astype(np.int64),
        "doc_ids": _enc(d),
        "tfs": _enc(tfs),
        "dls": _enc(dls),
    }


def _as_stream(bufs):
    """A list of per-block byte strings, or an already-concatenated
    buffer (bytes/memoryview — e.g. the values buffer of an Arrow
    BinaryArray, whose payloads are back-to-back)."""
    if isinstance(bufs, (bytes, bytearray, memoryview)):
        return bufs
    return b"".join(bufs)


def binary_stream(arr, start: int = 0, stop: int | None = None) -> memoryview:
    """The values of rows [start, stop) (default: all) of an Arrow
    (large_)binary array, or of a chunked one once combined, back to
    back in one zero-copy buffer: the concatenated stream
    decode_blocks_bulk takes, with no per-block bytes objects."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    stop = len(arr) if stop is None else stop
    _, offsets, values = arr.buffers()
    if values is None:
        return memoryview(b"")
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(offsets, dtype=width, count=arr.offset + len(arr) + 1)
    return memoryview(values)[offs[arr.offset + start]:offs[arr.offset + stop]]


def decode_blocks_bulk(id_bufs, tf_bufs, dl_bufs, ns):
    """Decode MANY blocks in one vectorized pass.

    Each stream may be a list of per-block buffers OR one concatenated
    buffer (see _as_stream). Returns (doc_ids, tfs, dls, block_index)
    where block_index maps each decoded element back to its source block
    ordinal. The delta cumsum is computed globally and re-based per
    block — no per-block Python.
    """
    ns = np.asarray(ns, dtype=np.int64)
    total = int(ns.sum())
    if total == 0:
        e = np.empty(0, dtype=np.uint64)
        return e, e, e, np.empty(0, dtype=np.int64)
    deltas = varint_decode(_as_stream(id_bufs), total)
    tfs = varint_decode(_as_stream(tf_bufs), total)
    dls = varint_decode(_as_stream(dl_bufs), total)
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    c = np.cumsum(deltas, dtype=np.uint64)
    c_before = np.concatenate(([np.uint64(0)], c[:-1]))
    ids = c - np.repeat(c_before[starts], ns)
    block_index = np.repeat(np.arange(ns.size, dtype=np.int64), ns)
    return ids, tfs, dls, block_index
