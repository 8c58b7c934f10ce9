"""Seeded inputs. The engine sees only the files and query lists made here.

Sizes are one twentieth of the 100k-doc reference corpus the engine's batch
switch was tuned on (``INDEX_DOCS / REFERENCE_DOCS``), so that every run of
both workloads, with its set-up and oracle check, fits a one-minute slot on
a 4-core host.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from escp_spark.corpus import (
    VOCAB_SIZE,
    ZIPF_S,
    generate_web_pages,
    reference_queries,
    write_web_pages_parquet,
)

from check import lww_docs

REFERENCE_DOCS = 100_000
INDEX_DOCS = 5_000
WARM_DOCS = 1_000          # set-up build that warms the JIT and workers
SERVE_REQUESTS = 1000      # serving requests per run
TAIL_SHARE = 0.25          # distinct long-tail requests in the stream
ZIPF_POOL = 100            # popular 2-term queries; also the `hot` batch
WIDE_TERMS = 600           # most frequent terms, each used once, paired

UPDATE_EPOCHS = 3          # epoch 0 is ingested during set-up
UPDATE_EPOCH_DOCS = 2000
UPDATE_DELETES = 50        # live urls deleted after each timed epoch
UPDATE_POOL = 40
UPDATE_READS_PER_PHASE = 85

# The popular query pools are drawn with this fixed seed: a query log's
# head is stable, and a per-seed head moved the median read latency by ~20%
# between runs. The run seed varies the corpus, the long-tail queries, the
# wide pairing, the request order and the deleted urls.
POOL_SEED = 20_000

WEB_PAGES_COLUMNS = [
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
]


def _term(rank: int) -> str:
    # The generator's vocabulary is frequency-ranked: t00000 is the most
    # frequent term of every corpus it writes.
    return f"t{rank:05d}"


def _zipf_probs() -> np.ndarray:
    w = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** (-ZIPF_S)
    return w / w.sum()


def zipf_queries(rng, n: int, first_id: int) -> list[dict]:
    """2-term queries whose terms follow the corpus' own Zipf law."""
    idx = rng.choice(VOCAB_SIZE, size=(n, 2), p=_zipf_probs())
    return [
        {"query_id": first_id + i, "query_text": f"{_term(a)} {_term(b)}",
         "k": 10}
        for i, (a, b) in enumerate(idx)
    ]


def tail_queries(rng, n: int, first_id: int) -> list[dict]:
    """Distinct 2-term queries with uniform vocabulary ranks (the
    ``scale_queries`` construction): mostly rare terms, cache misses."""
    seen, out = set(), []
    while len(out) < n:
        a, b = (int(x) for x in rng.integers(0, VOCAB_SIZE, size=2))
        key = (min(a, b), max(a, b))
        if a == b or key in seen:
            continue
        seen.add(key)
        out.append({"query_id": first_id + len(out),
                    "query_text": f"{_term(a)} {_term(b)}", "k": 10})
    return out


def wide_queries(rng, first_id: int) -> list[dict]:
    """The WIDE_TERMS most frequent terms, shuffled and paired, each term
    used once: many matched postings, one query per posting pair."""
    ranks = rng.permutation(WIDE_TERMS)
    return [
        {"query_id": first_id + i,
         "query_text": f"{_term(ranks[2 * i])} {_term(ranks[2 * i + 1])}",
         "k": 10}
        for i in range(WIDE_TERMS // 2)
    ]


def _term_frequency(query: dict) -> float:
    probs = _zipf_probs()
    return sum(
        probs[int(t[1:])] for t in query["query_text"].split()
        if len(t) == 6 and t[0] == "t" and t[1:].isdigit()
    )


def apportion(n: int, weights: np.ndarray) -> np.ndarray:
    """Integer counts summing to n, proportional to weights (largest
    remainder): the same mix for every seed, unlike a multinomial draw."""
    exact = n * weights / weights.sum()
    counts = np.floor(exact).astype(int)
    short = n - counts.sum()
    counts[np.argsort(counts - exact, kind="stable")[:short]] += 1
    return counts


def zipf_mix(rng, pool: list[dict], n: int) -> list[dict]:
    """n requests over pool with Zipf popularity (weight 1/rank in pool
    order), in seeded order."""
    counts = apportion(n, 1.0 / np.arange(1, len(pool) + 1))
    reqs = [q for q, c in zip(pool, counts) for _ in range(c)]
    return [reqs[i] for i in rng.permutation(len(reqs))]


def serve_requests(rng, popular: list[dict], tail: list[dict]) -> list[dict]:
    """SERVE_REQUESTS closed-loop requests: popular queries with Zipf
    popularity, and the distinct long-tail queries mixed in, in seeded
    order. Popularity follows the terms' own frequency, so the head of the
    stream is hot-term queries for every seed."""
    popular = sorted(popular, key=lambda q: -_term_frequency(q))
    reqs = zipf_mix(rng, popular, SERVE_REQUESTS - len(tail)) + list(tail)
    return [reqs[i] for i in rng.permutation(len(reqs))]


def index_inputs(workdir: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    corpus = f"{workdir}/web_pages.parquet"
    write_web_pages_parquet(corpus, INDEX_DOCS, seed)
    warm_corpus = f"{workdir}/warm_pages.parquet"
    write_web_pages_parquet(warm_corpus, WARM_DOCS, seed + 1)
    ref = reference_queries()
    hot = zipf_queries(np.random.default_rng(POOL_SEED), ZIPF_POOL, 1_000)
    n_tail = int(SERVE_REQUESTS * TAIL_SHARE)
    tail = tail_queries(rng, n_tail, 2_000)
    wide = wide_queries(rng, 3_000)
    return {
        "corpus": corpus,
        "warm_corpus": warm_corpus,
        "batches": {"ref": ref, "hot": hot, "wide": wide},
        "requests": serve_requests(rng, ref + hot, tail),
    }


def update_inputs(seed: int) -> dict:
    """One seeded corpus, LWW-deduplicated, in arrival (warc_ts) order;
    epoch e is rows [e*UPDATE_EPOCH_DOCS, (e+1)*UPDATE_EPOCH_DOCS). Corpus
    urls do not depend on the seed, so slicing one corpus (not re-seeding
    per epoch) is what keeps epoch urls disjoint."""
    rng = np.random.default_rng(seed)
    n = UPDATE_EPOCHS * UPDATE_EPOCH_DOCS
    cols = generate_web_pages(n, seed)
    docs = lww_docs(pd.DataFrame(cols))
    docs = docs.sort_values(["warc_ts", "url"], kind="mergesort")
    docs = docs.reset_index(drop=True).iloc[:n]
    ref = [q for q in reference_queries() if q["k"] <= 10][:10]
    pool = ref + zipf_queries(
        np.random.default_rng(POOL_SEED + 1), UPDATE_POOL - len(ref), 4_000)
    return {"docs": docs, "pool": pool, "rng": rng}


def write_epoch(docs: pd.DataFrame, epoch: int, path: str) -> pd.DataFrame:
    part = docs.iloc[epoch * UPDATE_EPOCH_DOCS:(epoch + 1) * UPDATE_EPOCH_DOCS]
    table = pa.table(
        {name: pa.array(part[name].tolist(), typ)
         for name, typ in WEB_PAGES_COLUMNS}
    )
    pq.write_table(table, path)
    return part
