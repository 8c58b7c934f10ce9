#!/usr/bin/env python3
"""Self-test of the benchmark's output check (no Spark needed).

    python3 perfbench/selftest.py

Builds the exhaustive oracle over a small seeded corpus, takes its own
answers as a correct engine output, and asserts that the check accepts
them and rejects each corruption: swapped ranks, a score off by 1e-5, a
tombstoned url and a missing row. Also checks that the dedup keeps the
later version of every duplicated url.
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import pandas as pd  # noqa: E402

from escp_spark.corpus import generate_web_pages  # noqa: E402
from escp_spark.oracle import NaiveIndex  # noqa: E402

from check import Expected, check_batch, lww_docs  # noqa: E402

QUERIES = [
    {"query_id": 0, "query_text": "t00000 t00001", "k": 10},
    {"query_id": 1, "query_text": "t00200 t00003", "k": 10},
    {"query_id": 2, "query_text": "t00007", "k": 5},
]


def rows_of(expected: Expected, queries) -> list[dict]:
    return [
        {"query_id": q["query_id"], "rank": i, "doc_url": u, "score": s}
        for q in queries
        for i, (u, s) in enumerate(expected.topk(q["query_text"], q["k"]), 1)
    ]


def main() -> int:
    corpus = pd.DataFrame(generate_web_pages(400, seed=3))
    docs = lww_docs(corpus)
    expected = Expected(NaiveIndex(dict(zip(docs["url"], docs["text"]))))
    good = rows_of(expected, QUERIES)
    assert not check_batch(good, QUERIES, expected), "correct output rejected"

    def corrupt(fn):
        rows = [dict(r) for r in good]
        fn(rows)
        return rows

    def swap(rows):
        rows[0]["rank"], rows[1]["rank"] = rows[1]["rank"], rows[0]["rank"]

    def nudge(rows):
        rows[3]["score"] += 1e-5

    def drop(rows):
        del rows[4]

    cases = {"swapped ranks": corrupt(swap), "score off by 1e-5": corrupt(nudge),
             "missing row": corrupt(drop)}

    # A tombstoned url must not be served: the engine output keeps it,
    # the expectation (oracle minus tombstones) does not.
    victim = good[0]["doc_url"]
    soft_deleted = Expected(expected.oracle, frozenset({victim}))
    cases["tombstoned url"] = good
    failures = []
    for name, rows in cases.items():
        exp = soft_deleted if name == "tombstoned url" else expected
        if not check_batch(rows, QUERIES, exp):
            failures.append(name)
    # ...and the same check accepts the output with the url dropped.
    live_rows = rows_of(soft_deleted, QUERIES)
    assert victim not in {r["doc_url"] for r in live_rows}
    assert not check_batch(live_rows, QUERIES, soft_deleted)

    # LWW: every duplicated url keeps its LATER version.
    dup = corpus[corpus.duplicated("url", keep=False)]
    assert len(dup), "generator made no duplicate urls"
    latest = dup.sort_values("warc_ts").drop_duplicates("url", keep="last")
    kept = docs.set_index("url").loc[latest["url"], "text"]
    if list(kept) != list(latest["text"]):
        failures.append("last-write-wins dedup")

    if failures:
        print(f"selftest FAILED: check accepted {failures}")
        return 1
    print(f"selftest ok: accepted the oracle's output, rejected "
          f"{sorted(cases)}; LWW keeps {len(latest)} later versions")
    return 0


if __name__ == "__main__":
    sys.exit(main())
