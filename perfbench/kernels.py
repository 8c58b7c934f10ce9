"""Single-core driver-process throughput of the analyzer and codec kernels
on a fixed slice of the workload's own documents (the host-ceiling analog:
what one core does without Spark around it)."""

from __future__ import annotations

import time
from collections import Counter, defaultdict

import numpy as np

from escp_spark.analyzer import extract_text, tokenize
from escp_spark.codec import decode_blocks_bulk, encode_blocks

SLICE_DOCS = 400
REPEATS = 3


def _best(fn) -> float:
    """Fastest of REPEATS runs: the ceiling, not the host's noise."""
    out = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return min(out)


def kernel_metrics(htmls: list[bytes]) -> dict:
    htmls = list(htmls[:SLICE_DOCS])
    texts = [extract_text(h) for h in htmls]
    toks = [tokenize(t) for t in texts]

    # One posting list per term over the slice: doc ids are slice rows.
    lists = defaultdict(lambda: ([], [], []))
    for doc, terms in enumerate(toks):
        for term, tf in Counter(terms).items():
            ids, tfs, dls = lists[term]
            ids.append(doc)
            tfs.append(tf)
            dls.append(len(terms))
    arrays = [tuple(np.asarray(c, dtype=np.uint64) for c in v)
              for v in lists.values()]
    n_postings = sum(a[0].size for a in arrays)
    blocks = [b for a in arrays for b in encode_blocks(*a)]

    html_mb = sum(len(h) for h in htmls) / 1e6
    text_mb = sum(len(t.encode("utf-8")) for t in texts) / 1e6
    return {
        "kernel.extract_mb_per_s":
            html_mb / _best(lambda: [extract_text(h) for h in htmls]),
        "kernel.tokenize_mb_per_s":
            text_mb / _best(lambda: [tokenize(t) for t in texts]),
        "kernel.encode_postings_per_s":
            n_postings / _best(lambda: [encode_blocks(*a) for a in arrays]),
        "kernel.decode_postings_per_s": n_postings / _best(
            lambda: decode_blocks_bulk(
                [b["doc_ids"] for b in blocks], [b["tfs"] for b in blocks],
                [b["dls"] for b in blocks], [b["n"] for b in blocks],
            )
        ),
    }
