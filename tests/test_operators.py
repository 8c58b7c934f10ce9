"""Training-data operator tests: dedup family, ANN, text stats."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from escp_spark.operators import (
    ann_bruteforce_topk,
    ann_lsh_topk,
    doc_fingerprints,
    embedding_near_dup_pairs,
    exact_dedup_groups,
    langid_scores,
    minhash_near_dups,
    ngram_jaccard_pairs,
    quality_scores,
    simhash_expr,
    simhash_near_dups,
)
from escp_spark.operators.dedup import simhash_sql

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base, "en"),
        (1, base, "en"),                                   # exact dup of 0
        (2, base + " extra", "en"),                        # near dup of 0
        (3, "völlig anderer deutscher text der die und das ist hier", "de"),
        (4, "le chat est sur la table et les oiseaux", "fr"),
        (5, "something entirely different about spark engines", "en"),
        (6, base.replace("dog", "cat"), "en"),             # near dup of 0
        (7, "", "en"),                                      # empty
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(spark, docs):
    groups = exact_dedup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_dups == 2 and groups[0].keeper == 0


def test_minhash_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_dups(docs, threshold=0.5, shingle_k=4).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs or (0, 6) in pairs  # near dups surface
    assert all(a != 5 and b != 5 for a, b in pairs)  # distinct doc never pairs


def test_simhash_identical_and_near(spark, docs):
    sh = {r.doc_id: r.simhash for r in simhash_expr(docs).collect()}
    assert sh[0] == sh[1]
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_near_dups(docs, max_hamming=6).collect()}
    assert pairs.get((0, 1)) == 0


def test_simhash_matches_duckdb_oracle(spark, docs):
    """The same SimHash formula evaluated by Catalyst and by DuckDB must
    agree bit-for-bit — the SQL-reproducibility contract."""
    got = {r.doc_id: r.simhash for r in simhash_expr(docs).collect()}
    pdf = docs.toPandas()
    con = duckdb.connect()
    con.register("docs", pdf)
    sql = f"""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
          FROM docs
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        )
        SELECT doc_id, {simhash_sql('duckdb', 'term', 'tf')} AS simhash
        FROM tf GROUP BY doc_id
    """
    want = dict(con.sql(sql).fetchall())
    assert {k: got[k] for k in want} == {k: int(v) for k, v in want.items()}


def test_ngram_jaccard(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs.get((0, 1)) == 1.0


def test_embedding_near_dups_and_oracle(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = sorted(
        (r.id_a, r.id_b, r.cos)
        for r in embedding_near_dup_pairs(e, threshold=0.3, mode="exact").collect()
    )
    con = duckdb.connect()
    want = sorted(
        con.sql(f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM
                   read_parquet('{SF_DIR}/embeddings.parquet'))
        SELECT a.vec_id, b.vec_id,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE cos >= 0.3
        """).fetchall()
    )
    assert got == [(a, b, float(c)) for a, b, c in want]


def test_embedding_near_dups_lsh_blocked_recall(spark):
    """The default banded-LSH blocking must (a) never emit a pair the
    exact form wouldn't (the cosine verify is exact, so candidates only
    shrink the set) and (b) keep recall high even at the hard low
    threshold 0.3 on near-uniform vectors."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_dup_pairs(e, threshold=0.3, mode="exact").collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_dup_pairs(e, threshold=0.3).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(lsh[k] == exact[k] for k in lsh)
    assert exact, "oracle produced no pairs — test is vacuous"
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"LSH blocking recall {recall}"


def test_ann_lsh_recall(spark):
    """LSH-bucketed ANN must reach ≥0.7 recall@10 vs bruteforce on the
    embeddings table (with modest planes/hamming settings)."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe = e.filter(F.col("vec_id") == 0).first().embedding
    probe = [float(x) for x in probe]
    rest = e.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in ann_bruteforce_topk(rest, probe, k=10).collect()]
    # The synthetic embeddings are near-uniform (max pairwise cos ≈ 0.37),
    # the hardest case for LSH — wide multi-probe is needed for recall.
    approx = [r.vec_id for r in
              ann_lsh_topk(rest, probe, k=10, n_planes=8, probe_hamming=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, f"LSH recall {recall} (exact={exact}, approx={approx})"


def test_ann_lsh_prunes(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe = [float(x) for x in e.first().embedding]
    from escp_spark.operators.similarity import _planes, lsh_bucket_expr

    planes = _planes(len(probe), 8)
    bucketed = e.withColumn("b", lsh_bucket_expr("embedding", planes))
    n_buckets = bucketed.select("b").distinct().count()
    assert n_buckets > 10  # buckets actually split the space


def test_ann_lsh_bucketed_partition_pruning(spark, tmp_path):
    """The materialized layout must (a) return the same top-k as the
    on-the-fly LSH path and (b) actually PRUNE: the scan's input files
    are only the near-bucket partitions, not the whole table."""
    from escp_spark.operators import (
        ann_lsh_topk,
        ann_lsh_topk_bucketed,
        bucketize_embeddings,
    )
    from escp_spark.operators.similarity import _near_buckets, _planes, _probe_bucket

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    rest = e.filter(F.col("vec_id") != 0)
    out = str(tmp_path / "embbuckets")
    bucketize_embeddings(rest, out, n_planes=8)

    flydf = ann_lsh_topk(rest, probe, k=10, n_planes=8, probe_hamming=3)
    matdf = ann_lsh_topk_bucketed(spark, out, probe, k=10, n_planes=8,
                                  probe_hamming=3)
    assert [(r.vec_id, r.cos) for r in flydf.collect()] == [
        (r.vec_id, r.cos) for r in matdf.collect()
    ]

    near = set(_near_buckets(_probe_bucket(probe, _planes(len(probe), 8)), 8, 3))
    scanned = spark.read.parquet(out).filter(
        F.col("bucket").isin([int(b) for b in near])
    )
    from escp_spark.plans.inspect import explain_str

    plan = explain_str(scanned)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any(
        "bucket" in ln and (" IN " in ln or " INSET " in ln) for ln in pf
    ), f"bucket IN filter not in PartitionFilters:\n{plan[:2000]}"
    got_buckets = {r.bucket for r in scanned.select("bucket").distinct().collect()}
    assert got_buckets <= near and got_buckets, got_buckets


def test_langid(spark, docs):
    out = {r.doc_id: r.lang_pred for r in langid_scores(docs).collect()}
    assert out[0] == "en" and out[3] == "de" and out[4] == "fr"


def test_quality_scores(spark, docs):
    q = {r.doc_id: r for r in quality_scores(docs).collect()}
    assert q[0].n_tokens == 12
    assert q[0].stopword_ratio == pytest.approx(3 / 12, abs=1e-6)  # the×2 + and
    assert 3.0 < q[0].chars_per_token < 6.0


def test_fingerprints(spark, docs):
    fp = {r.doc_id: r for r in doc_fingerprints(docs).collect()}
    assert fp[0].md5_raw == fp[1].md5_raw
    assert fp[0].md5_normtok == fp[1].md5_normtok
    assert fp[0].md5_raw != fp[5].md5_raw


def test_shingle_chunking_is_doc_exact():
    """_iter_doc_chunks never splits a doc, covers every doc exactly
    once, and the chunked shingle pass equals the unchunked one —
    the invariant that lets minhash bound its temporaries."""
    import numpy as np

    from escp_spark.operators.dedup import (
        _batch_shingle_hashes,
        _iter_doc_chunks,
    )

    texts = ["", "ab", "abcdefgh" * 50, None, "x" * 5000, "hello world"] * 7
    ranges = list(_iter_doc_chunks(texts, max_chars=600))
    assert ranges[0][0] == 0 and ranges[-1][1] == len(texts)
    for (a, b), (c, d) in zip(ranges, ranges[1:]):
        assert b == c and a < b
    # over-long doc gets its own range but is never dropped
    covered = [i for a, b in ranges for i in range(a, b)]
    assert covered == list(range(len(texts)))

    h0, d0 = _batch_shingle_hashes([t or "" for t in texts], 5)
    hs, ds = [], []
    for a, b in ranges:
        h, d = _batch_shingle_hashes([t or "" for t in texts[a:b]], 5)
        if d.size:
            d = d + a
        hs.append(h)
        ds.append(d)
    h1, d1 = np.concatenate(hs), np.concatenate(ds)
    key0 = np.sort(d0.astype(np.uint64) << np.uint64(32) | h0)
    key1 = np.sort(d1.astype(np.uint64) << np.uint64(32) | h1)
    assert np.array_equal(key0, key1)
