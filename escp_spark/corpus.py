"""Deterministic Common-Crawl-style corpus + reference query set.

FIXTURES.md §1-2 spec: seeded (seed=42), Zipf(s≈1.1) vocabulary skew so the
hottest terms hit ~half the docs (exercises the salting/skew path — the
analog of escp's bytes-per-shard skew heuristic, estypes/estypes.go:104-116),
~1% duplicated urls with a later warc_ts (last-write-wins dedup, the
bulktypes.go:28-30 analog), and edge docs (empty, 1-token, hot-only,
unicode, very long).

The generator is pure Python/numpy and writes plain Parquet via pyarrow —
it is the stand-in for the production Iceberg ``web_pages`` table
(input_hint: url string, warc_ts timestamp, html binary, text string,
lang string). No wall-clock, no external data.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .analyzer import wrap_html

SEED = 42
VOCAB_SIZE = 10_000
ZIPF_S = 1.1
BASE_TS = _dt.datetime(2025, 1, 1, 0, 0, 0)
N_SITES = 97  # urls spread over this many sites

LANGS = ["en", "de", "fr", "zh"]
LANG_CUM = [0.80, 0.90, 0.95, 1.00]

_UNICODE_SNIPPETS = [
    "héllo wörld café naïve",           # combining accents
    "这是 一个 中文 文档 网页",              # CJK
    "emoji 🙂 🚀 mixed tokens",           # emoji (dropped by tokenizer)
    "Ωμέγα ålpha straße",
]


def _vocab() -> list[str]:
    return [f"t{i:05d}" for i in range(VOCAB_SIZE)]


def _zipf_probs() -> np.ndarray:
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    w = ranks ** (-ZIPF_S)
    return w / w.sum()


def generate_web_pages(n_rows: int, seed: int = SEED) -> dict:
    """Generate the corpus as plain columnar python/numpy data.

    Returns dict of columns: url, warc_ts, html, text, lang.
    Deterministic for (n_rows, seed).
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab())
    probs = _zipf_probs()

    # One vectorized draw for all docs' tokens, then split by offsets.
    lens = rng.integers(20, 201, size=n_rows)
    all_idx = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=probs)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    all_words = vocab[all_idx]

    urls, texts, langs, tss = [], [], [], []
    for i in range(n_rows):
        url = f"https://site{i % N_SITES}.example/p/{i}"
        text = " ".join(all_words[offsets[i] : offsets[i + 1]])
        urls.append(url)
        texts.append(text)
        r = (hash_md5_int(url) % 10_000) / 10_000.0
        langs.append(LANGS[next(k for k, c in enumerate(LANG_CUM) if r < c)])
        tss.append(BASE_TS + _dt.timedelta(seconds=i))

    # Edge docs (replace the first few rows' text; urls/ts keep their slots).
    if n_rows >= 8:
        texts[0] = ""                                   # empty
        texts[1] = vocab[5000]                          # 1 token
        texts[2] = " ".join([vocab[0]] * 50)            # only the hottest term
        texts[3] = _UNICODE_SNIPPETS[0]
        texts[4] = _UNICODE_SNIPPETS[1]
        texts[5] = _UNICODE_SNIPPETS[2]
        texts[6] = _UNICODE_SNIPPETS[3]
        long_idx = rng.choice(VOCAB_SIZE, size=5000, p=probs)
        texts[7] = " ".join(vocab[long_idx])  # ~5k tokens

    # ~1% duplicated urls with later warc_ts and different text
    # (last-write-wins must keep the later one).
    n_dup = max(1, n_rows // 100)
    dup_rows = rng.choice(n_rows, size=n_dup, replace=False)
    dup_lens = rng.integers(20, 201, size=n_dup)
    dup_idx = rng.choice(VOCAB_SIZE, size=int(dup_lens.sum()), p=probs)
    dup_off = np.concatenate(([0], np.cumsum(dup_lens)))
    dup_words = vocab[dup_idx]
    for j, d in enumerate(dup_rows):
        urls.append(urls[d])
        texts.append(" ".join(dup_words[dup_off[j] : dup_off[j + 1]]))
        langs.append(langs[d])
        tss.append(BASE_TS + _dt.timedelta(seconds=n_rows + int(d)))

    htmls = [wrap_html(f"page {u}", t) for u, t in zip(urls, texts)]
    return {
        "url": urls,
        "warc_ts": tss,
        "html": htmls,
        "text": texts,
        "lang": langs,
    }


def write_web_pages_parquet(path: str, n_rows: int, seed: int = SEED) -> int:
    cols = generate_web_pages(n_rows, seed)
    table = pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
            "html": pa.array(cols["html"], pa.binary()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
        }
    )
    # Small row groups (64k rows ≈ 45 MB) so Spark's byte-range splits
    # each own ≥1 row group and the corpus scan parallelizes — the
    # pyarrow default (1M rows/group) made a 2M-doc corpus exactly TWO
    # map tasks, a serial fraction that poisoned every scaling number.
    pq.write_table(table, path, row_group_size=64 * 1024)
    return table.num_rows


def hash_md5_int(s: str) -> int:
    """First 8 hex chars of md5 as int — replicable in Spark
    (``conv(substring(md5(col),1,8),16,10)``), DuckDB and pure Python;
    used for deterministic bucketing/sampling everywhere."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def reference_queries() -> list[dict]:
    """The fixed reference query set (FIXTURES.md §2). Deterministic."""
    vocab = _vocab()
    hot, mid, rare = vocab[0], vocab[200], vocab[9_500]
    absent = "zzzznotaword"
    qs = [
        {"query_id": 0, "query_text": hot, "k": 10},                      # 1-term common
        {"query_id": 1, "query_text": rare, "k": 10},                     # 1-term rare
        {"query_id": 2, "query_text": absent, "k": 10},                   # absent term
        {"query_id": 3, "query_text": f"{hot} {rare}", "k": 10},          # common+rare AND-ish
        {"query_id": 4, "query_text": f"{hot} {mid} {rare}", "k": 10},    # 3-term
        {"query_id": 5, "query_text": f"{vocab[0]} {vocab[1]}", "k": 10}, # hot-only (WAND stress)
        {"query_id": 6, "query_text": "中文 文档", "k": 10},                # unicode
        {"query_id": 7, "query_text": f"{absent} {absent}x", "k": 10},    # 0 matches
        {"query_id": 8, "query_text": mid, "k": 1},                       # k=1
        {"query_id": 9, "query_text": rare, "k": 1_000_000},              # k > matches
        {"query_id": 10, "query_text": vocab[1], "k": 10},
        {"query_id": 11, "query_text": f"{vocab[2]} {vocab[300]}", "k": 10},
        {"query_id": 12, "query_text": f"{vocab[3]} {vocab[4]} {vocab[700]}", "k": 10},
        {"query_id": 13, "query_text": "héllo café", "k": 10},
        {"query_id": 14, "query_text": f"{vocab[50]} {vocab[51]}", "k": 25},
    ]
    # Widen with deterministic mixed-frequency 2-term queries → 50 total.
    qid = len(qs)
    rng = np.random.default_rng(SEED + 1)
    while qid < 50:
        a, b = rng.integers(0, VOCAB_SIZE, size=2)
        qs.append(
            {"query_id": qid, "query_text": f"{vocab[a]} {vocab[b]}", "k": 10}
        )
        qid += 1
    return qs


def scale_queries(n_queries: int, seed: int = SEED) -> list[dict]:
    """Deterministic saturation workload for throughput-scaling runs.

    `n_queries` mixed-frequency 2-term queries drawn across the whole
    Zipf vocabulary (same construction as the widened tail of
    reference_queries, but sized to the caller). Unlike tiling the
    50-query reference set with fresh qids, the terms here are distinct
    draws, so EVERY stage of the batch path — posting decode, the
    (posting x query) expansion, and the score aggregation — grows with
    the batch, the way a real multi-tenant query mix does. bench.py's
    mixed batch uses it to measure marginal per-query cost with the
    fixed per-batch driver cost amortized away.
    """
    vocab = _vocab()
    rng = np.random.default_rng(seed + 7)
    idx = rng.integers(0, VOCAB_SIZE, size=(n_queries, 2))
    return [
        {
            "query_id": 1_000_000 + i,
            "query_text": f"{vocab[a]} {vocab[b]}",
            "k": 10,
        }
        for i, (a, b) in enumerate(idx)
    ]
