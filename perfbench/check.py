"""Output checks against the exhaustive oracle (``escp_spark.oracle``).

Pure functions, no Spark: ``selftest.py`` feeds them corrupted outputs.
"""

from __future__ import annotations

import hashlib

import pandas as pd

ATOL = 1e-6


def lww_docs(pdf: pd.DataFrame) -> pd.DataFrame:
    """Last-write-wins dedup with the rule the engine and the test oracle
    use (tests/conftest.py ``oracle_docs``): per url keep the row with the
    greatest warc_ts, ties broken by the greatest md5(html). Returns the
    surviving rows in url order."""
    t = pdf.copy()
    t["_tie"] = t["html"].map(lambda h: hashlib.md5(h).hexdigest())
    t = t.sort_values(["url", "warc_ts", "_tie"], ascending=[True, False, False])
    t = t.drop_duplicates("url", keep="first").drop(columns="_tie")
    return t.reset_index(drop=True)


class Expected:
    """Expected top-k per (index state, query): the oracle's answer,
    memoised because request streams repeat queries.

    ``tombstoned`` urls are dropped from an oracle built over every doc
    the index still counts in its statistics (soft deletes keep df, N and
    avgdl until compaction), so the oracle is asked for ``k + len(tomb)``
    rows and the first k live ones are kept."""

    def __init__(self, oracle, tombstoned: frozenset = frozenset()):
        self.oracle = oracle
        self.tombstoned = tombstoned
        self._memo: dict = {}

    def topk(self, query_text: str, k: int) -> list[tuple[str, float]]:
        key = (query_text, k)
        hit = self._memo.get(key)
        if hit is None:
            if self.tombstoned:
                rows = self.oracle.search(query_text, k + len(self.tombstoned))
                hit = [r for r in rows if r[0] not in self.tombstoned][:k]
            else:
                hit = self.oracle.search(query_text, k)
            self._memo[key] = hit
        return hit


def compare(rows: list[dict], expected: list[tuple[str, float]]) -> str | None:
    """Rows of ONE query ({rank, doc_url, score}) vs the oracle's ranked
    (url, score) list. Returns None when identical, else the first
    difference: urls must be rank-identical and scores equal to ATOL."""
    got = sorted(rows, key=lambda r: r["rank"])
    ranks = [r["rank"] for r in got]
    if ranks != list(range(1, len(got) + 1)):
        return f"ranks not 1..n: {ranks[:12]}"
    if len(got) != len(expected):
        return f"{len(got)} rows, oracle has {len(expected)}"
    for r, (url, score) in zip(got, expected):
        if r["doc_url"] != url:
            return f"rank {r['rank']}: url {r['doc_url']!r}, oracle {url!r}"
        if abs(r["score"] - score) > ATOL:
            return f"rank {r['rank']}: score {r['score']!r}, oracle {score!r}"
    return None


def by_query(rows) -> dict[int, list[dict]]:
    """Group result rows (dicts or Spark Rows) by query_id."""
    out: dict[int, list[dict]] = {}
    for r in rows:
        d = r if isinstance(r, dict) else r.asDict()
        out.setdefault(d["query_id"], []).append(d)
    return out


def check_batch(rows, queries: list[dict], expected: Expected) -> list[str]:
    """Every query of a batch vs the oracle; a query with no rows must
    have an empty oracle answer too."""
    got = by_query(rows)
    errors = []
    for q in queries:
        err = compare(
            got.get(q["query_id"], []), expected.topk(q["query_text"], q["k"])
        )
        if err:
            errors.append(f"query {q['query_id']} {q['query_text']!r}: {err}")
    extra = set(got) - {q["query_id"] for q in queries}
    if extra:
        errors.append(f"rows for unknown query ids {sorted(extra)[:5]}")
    return errors
