"""Resume (B10), skew (B8), and validation-job (V1-V5) tests — SURVEY.md §5.4-5.5."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from escp_spark.build import SimulatedFailure, build_index, read_ledger
from escp_spark.sources.tables import IndexLayout
from escp_spark.validate import ValidationError, validate_index


def _file_mtimes(path):
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _staging_dir(layout, prefix):
    """The one ``<prefix>-<resume key>`` directory in the build's staging
    (these tests run one resume key per index)."""
    (d,) = [e for e in os.listdir(layout.staging)
            if e.startswith(prefix + "-")]
    return os.path.join(layout.staging, d)


def _index_content(spark, index_dir, build_id="build0"):
    layout = IndexLayout(index_dir, build_id)
    postings = sorted(
        (r.term, r.block_id, bytes(r.doc_ids), bytes(r.tfs), bytes(r.dls))
        for r in spark.read.parquet(layout.postings).collect()
    )
    docmap = sorted(
        (r.doc_id, r.url) for r in spark.read.parquet(layout.docmap).collect()
    )
    dictionary = sorted(
        (r.term, r.df, r.cf) for r in spark.read.parquet(layout.dictionary).collect()
    )
    return postings, docmap, dictionary


def test_resume_skips_committed_and_is_identical(spark, tiny_corpus, tmp_path):
    """Kill right after the shuffle commit (0 groups) and after 2 of 4
    groups; rerun; the committed shuffle and committed groups must NOT
    re-execute (file mtimes unchanged), an uncommitted group's docmap
    directory is cleared of a crashed attempt's files, and the final
    index must be content-identical to an uninterrupted build
    (esscroll.go:129 / 293-294 realized)."""
    d_clean = str(tmp_path / "idx_clean")
    build_index(spark, tiny_corpus, d_clean, n_buckets=8, max_segments=3, n_groups=4)
    clean = _index_content(spark, d_clean)

    for kill_after in (0, 2):
        d_interrupted = str(tmp_path / f"idx_resume_{kill_after}")
        with pytest.raises(SimulatedFailure):
            build_index(
                spark, tiny_corpus, d_interrupted,
                n_buckets=8, max_segments=3, n_groups=4,
                fail_after_groups=kill_after,
            )
        layout = IndexLayout(d_interrupted, "build0")
        led = read_ledger(spark, layout)
        assert led.filter(F.col("stage") == "shuffle").count() == 4
        assert led.filter(F.col("stage") == "segment").count() == kill_after
        shuffled_dir = _staging_dir(layout, "shuffled")
        level0 = shuffled_dir.replace("shuffled-", "postings_l0-")
        before_shuffle = _file_mtimes(shuffled_dir)
        before = _file_mtimes(level0)
        assert before_shuffle, "no staging files after the shuffle commit"
        assert bool(before) == bool(kill_after), (
            f"kill after {kill_after}: unexpected level-0 segment files"
        )
        # What a crashed task attempt of the uncommitted group 3 leaves
        # in its docmap directory: a temp file and a stray data file.
        tag = shuffled_dir.rsplit("shuffled-", 1)[1]
        stray_dir = os.path.join(d_interrupted, f"docmap-{tag}", "group=3")
        os.makedirs(stray_dir, exist_ok=True)
        strays = [os.path.join(stray_dir, n) for n in
                  (".bucket-00003.parquet.0f0f", "bucket-00011.parquet")]
        for p in strays:
            pq.write_table(pa.table({
                "bucket": pa.array([3], pa.int32()), "url": ["stray"],
                "doc_id": pa.array([3 << 40], pa.int64()),
            }), p)

        # Resume: remaining groups run, committed work is skipped untouched.
        build_index(
            spark, tiny_corpus, d_interrupted,
            n_buckets=8, max_segments=3, n_groups=4,
        )
        assert not any(map(os.path.exists, strays)), (
            f"kill after {kill_after}: the resumed group kept a stray file"
        )
        assert _file_mtimes(shuffled_dir) == before_shuffle, (
            f"kill after {kill_after}: resume re-ran the wide shuffle pass"
        )
        after = _file_mtimes(level0)
        for p, m in before.items():
            assert after.get(p) == m, f"committed segment file was rewritten: {p}"
        led = read_ledger(spark, layout)
        assert led.filter(F.col("stage") == "segment").count() == 4
        assert _index_content(spark, d_interrupted) == clean, (
            f"kill after {kill_after}: resumed index differs from a clean build"
        )


def test_rerun_of_published_index_is_noop_fast(spark, built_index, tiny_corpus):
    """A fully-committed build re-run must skip all segment groups."""
    index_dir, manifest = built_index
    layout = IndexLayout(index_dir, manifest["build_id"])
    before = _file_mtimes(layout.postings_l0)
    build_index(spark, tiny_corpus, index_dir, n_buckets=8, max_segments=3, n_groups=4)
    after = _file_mtimes(layout.postings_l0)
    assert before == after


def test_bucket_balance_no_skew(spark, built_index):
    """§5.5: md5 bucketing keeps task inputs balanced — no bucket gets
    more than 2× the median docs (the estypes.go:104-116 skew goal)."""
    index_dir, manifest = built_index
    layout = IndexLayout(index_dir, manifest["build_id"])
    counts = [
        r.n
        for r in spark.read.parquet(layout.docmap)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(counts) == manifest["n_buckets"]
    counts.sort()
    median = counts[len(counts) // 2]
    assert counts[-1] <= 2 * median, f"bucket skew: max {counts[-1]} vs median {median}"


def test_hot_term_postings_distributed(spark, built_index):
    """The hottest term's postings must be spread across every bucket
    (the salting-by-construction property), not concentrated in one
    merge task's input."""
    index_dir, manifest = built_index
    layout = IndexLayout(index_dir, manifest["build_id"])
    l0 = spark.read.parquet(layout.postings_l0)
    hot = (
        l0.groupBy("term")
        .agg(F.sum("n").alias("df"))
        .orderBy(F.col("df").desc())
        .first()
    )
    buckets = (
        l0.filter(F.col("term") == hot.term).select("bucket").distinct().count()
    )
    assert buckets == manifest["n_buckets"]


def test_validate_index_passes(spark, tiny_corpus, built_index):
    index_dir, _ = built_index
    res = validate_index(spark, tiny_corpus, index_dir, sample_denom=1)
    assert res.missing == 0 and res.mismatched == 0
    assert res.checked == res.total == res.matched


def test_validate_detects_count_mismatch(spark, tiny_corpus, built_index, tmp_path):
    """V1: a doctored source (one extra url) must fail the precheck."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    index_dir, _ = built_index
    t = pq.read_table(tiny_corpus)
    extra = t.slice(0, 1).to_pydict()
    extra["url"] = ["https://siteX.example/p/extra"]
    doctored = pa.concat_tables([t, pa.table(extra, schema=t.schema)])
    p = str(tmp_path / "doctored.parquet")
    pq.write_table(doctored, p)
    with pytest.raises(ValidationError, match="count mismatch"):
        validate_index(spark, p, index_dir, sample_denom=1)


def test_build_source_filter(spark, tiny_corpus, tmp_path):
    """escopyjob.go:37 analog: --filter indexes only matching raw rows
    (applied at the scan, before LWW dedup — the scroll-query order)."""
    import hashlib

    import pyarrow.parquet as pq

    d = str(tmp_path / "idx_en")
    m = build_index(
        spark, tiny_corpus, d, n_buckets=8, max_segments=3, n_groups=2,
        source_filter="lang = 'en'",
    )
    t = pq.read_table(tiny_corpus).to_pandas()
    t = t[t["lang"] == "en"]
    t["tie"] = t["html"].map(lambda h: hashlib.md5(h).hexdigest())
    t = t.sort_values(["url", "warc_ts", "tie"], ascending=[True, False, False])
    expected = t.drop_duplicates("url", keep="first")
    assert m["n_docs"] == len(expected)
    assert m["source_filter"] == "lang = 'en'"


def test_resume_key_includes_params(spark, tiny_corpus, tmp_path):
    """A rerun with different n_buckets must NOT reuse stages committed
    under the old bucketing (ADVICE r01): the ledger key includes a
    params hash, so the second build re-executes and publishes a
    consistent layout."""
    d = str(tmp_path / "idx_params")
    build_index(spark, tiny_corpus, d, n_buckets=8, max_segments=3, n_groups=2)
    m2 = build_index(
        spark, tiny_corpus, d, n_buckets=4, max_segments=3, n_groups=2
    )
    assert m2["n_buckets"] == 4
    layout = IndexLayout(d, "build0")
    buckets = {
        r.b
        for r in spark.read.parquet(layout.docmap)
        .select((F.col("doc_id") / F.lit(1 << 40)).cast("int").alias("b"))
        .distinct()
        .collect()
    }
    assert buckets <= set(range(4)), buckets  # layout matches n_buckets=4
    validate_index(spark, tiny_corpus, d, sample_denom=1)


def test_diff_indexes_job(spark, built_index, tiny_corpus, tmp_path):
    """esdiff main.go:16-84 as a job: identical indexes diff clean; an
    index built over a perturbed corpus drifts and the CLI exits 1."""
    import pyarrow.parquet as pq

    from escp_spark.cli import main as cli_main
    from escp_spark.corpus import reference_queries
    from escp_spark.validate import diff_indexes

    index_dir, _ = built_index
    qs = reference_queries()[:5]
    clean = diff_indexes(index_dir, index_dir, qs)
    assert clean["drifted"] == 0

    # Perturb: drop 5% of pages and rebuild — scores/ranks must drift.
    t = pq.read_table(tiny_corpus).to_pandas()
    pert_src = str(tmp_path / "pert.parquet")
    import pyarrow as pa

    pq.write_table(pa.Table.from_pandas(t.iloc[: int(len(t) * 0.95)]), pert_src)
    pert_idx = str(tmp_path / "pert_idx")
    build_index(spark, pert_src, pert_idx, n_buckets=8, max_segments=3,
                n_groups=1)
    res = diff_indexes(index_dir, pert_idx, qs)
    assert res["drifted"] > 0

    rc = cli_main(
        ["diff", index_dir, pert_idx, "--queries"]
        + [q["query_text"] for q in qs]
    )
    assert rc == 1
    rc = cli_main(
        ["diff", index_dir, index_dir, "--queries"]
        + [q["query_text"] for q in qs]
    )
    assert rc == 0


def test_cli_build_prints_manifest(spark, tiny_corpus, oracle_docs, tmp_path,
                                   capsys):
    """`cli build` builds the index and prints the published manifest as
    JSON on stdout; its doc count is the live (LWW-deduplicated) corpus."""
    import json

    from escp_spark.cli import main as cli_main

    idx = str(tmp_path / "cli_idx")
    rc = cli_main(["build", tiny_corpus, idx, "--buckets", "8",
                   "--maxsegs", "3", "--groups", "4"])
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out)
    assert manifest["n_docs"] == len(oracle_docs)


def test_cli_tail_field_value_filters(spark, tiny_corpus, capsys):
    """estail field:value parsing (estail.go:109-130): --fields lang:de
    keeps only matching rows; --not-fields excludes; values within one
    field OR together."""
    import json

    from escp_spark.cli import main as cli_main

    rc = cli_main(["tail", tiny_corpus, "--since", "999d",
                   "--fields", "lang:de,lang:fr", "--limit", "500"])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and all(r["lang"] in ("de", "fr") for r in rows)

    rc = cli_main(["tail", tiny_corpus, "--since", "999d",
                   "--not-fields", "lang:en", "--limit", "500"])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and all(r["lang"] != "en" for r in rows)
