"""Validation job — the esdiff/validationjob analog (cmd/esdiff/main.go:16-84,
jobs/validationjob.go:32-91, esdiff/esdiff.go:41-104).

escp validates a copy by (1) a count-equality precheck, (2) a Bernoulli-
sampled scan where each sampled doc is point-looked-up in the destination
and compared byte-for-byte. Here the "copy" is the built index, so the
checks become:

- V1 count precheck: deduped distinct urls in the source == manifest
  n_docs == Σ ledger segment docs (validationjob.go:38-51).
- V2 deterministic sample: md5(url) % denom == 0 (the seeded dice.Intn
  analog, validationjob.go:33+64-66 — made deterministic, as SURVEY.md
  §2.5 V2 requires).
- V3 byte-identity: re-extract text from html and compare with the
  stored ground truth per sampled url (the bytes.Equal fast path,
  esdiff.go:80-82).
- Missing detection: sampled urls left-anti-joined against the docmap
  (DiffMissing, esdiff.go:51-53) — a broadcast join, not per-row GETs.

One Spark job, counters aggregated relationally (ValidationResults
analog, validationjob.go:17-30). Raises ValidationError on any
missing/mismatched docs (ErrMissMatch analog, validationjob.go:87-89).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .build import DOCMAP_SCHEMA, dedup_last_write_wins, extract_text_udf
from .sources.tables import IndexLayout, load_manifest, read_web_pages


class ValidationError(RuntimeError):
    """ErrMissMatch analog (jobs/validationjob.go:12-14)."""


@dataclass
class ValidationResult:
    """Counters, validationjob.go:17-30 analog."""

    total: int
    checked: int
    missing: int
    mismatched: int
    matched: int

    def __str__(self) -> str:  # validationjob.go String() analog
        return (
            f"Total: {self.total} Checked: {self.checked} "
            f"Missing: {self.missing} MissMatched: {self.mismatched} "
            f"Matched: {self.matched}"
        )


def diff_indexes(index_a: str, index_b: str, queries: list[dict],
                 score_tol: float = 1e-9) -> dict:
    """Index-vs-index diff (cmd/esdiff/main.go:16-84 as an operational
    JOB, not just a test): run the serving path over both PUBLISHED
    indexes and compare rank-by-rank — the V6 rank/score-identity
    machinery applied to two live indexes (e.g. old vs rebuilt).

    A query drifts when its ranked url sequence differs, its result
    count differs, or any score moves by more than ``score_tol``.
    Returns {"queries", "drifted", "details"}; drifted == 0 means the
    indexes serve identically on this query set. Driver-sized: only the
    top-k rows of both indexes are compared (no Spark job needed — the
    serving path reads row-group-pruned postings directly)."""
    from .query import search_topk

    def by_query(rows):
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append(
                (r["doc_url"], r["score"])
            )
        return out

    a = by_query(search_topk(index_a, queries))
    b = by_query(search_topk(index_b, queries))
    details = []
    for q in queries:
        qa = a.get(q["query_id"], [])
        qb = b.get(q["query_id"], [])
        drifted = len(qa) != len(qb) or any(
            ua != ub or abs(sa - sb) > score_tol
            for (ua, sa), (ub, sb) in zip(qa, qb)
        )
        if drifted:
            details.append(
                {
                    "query_id": q["query_id"],
                    "query_text": q["query_text"],
                    "a": qa[:5],
                    "b": qb[:5],
                }
            )
    return {"queries": len(queries), "drifted": len(details),
            "details": details}


def validate_index(
    spark: SparkSession,
    source: str,
    index_dir: str,
    sample_denom: int = 1000,
) -> ValidationResult:
    """Validate a published index against its source corpus.

    sample_denom=1 checks every doc (the esdiff ``-d 1`` semantics,
    cmd/esdiff/main.go:26-27).
    """
    manifest = load_manifest(index_dir)
    docmap = spark.read.schema(DOCMAP_SCHEMA).parquet(
        manifest["paths"]["docmap"]).select("url")

    src = dedup_last_write_wins(read_web_pages(spark, source))

    # V1: count precheck — short-circuits before the sampled scan
    # (validationjob.go:47-50).
    total = src.count()
    if total != manifest["n_docs"]:
        raise ValidationError(
            f"count mismatch: source {total} != index {manifest['n_docs']}"
        )

    sample = src.filter(
        F.conv(F.substring(F.md5("url"), 1, 8), 16, 10).cast("long") % sample_denom
        == 0
    )

    joined = sample.join(docmap.withColumn("__in_index", F.lit(1)), "url", "left")
    diff = joined.select(
        F.when(F.col("__in_index").isNull(), "missing")
        .when(extract_text_udf(F.col("html")) != F.col("text"), "mismatched")
        .otherwise("matched")
        .alias("status")
    )
    counts = {r["status"]: r["n"] for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()}

    res = ValidationResult(
        total=total,
        checked=sum(counts.values()),
        missing=counts.get("missing", 0),
        mismatched=counts.get("mismatched", 0),
        matched=counts.get("matched", 0),
    )
    if res.missing or res.mismatched:
        raise ValidationError(str(res))
    return res
