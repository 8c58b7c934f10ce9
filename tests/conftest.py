import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from escp_spark.session import get_spark

    s = get_spark("escp_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus(tmp_path_factory):
    """1,000-row deterministic web_pages corpus (FIXTURES.md 'tiny')."""
    from escp_spark.corpus import write_web_pages_parquet

    p = tmp_path_factory.mktemp("corpus") / "web_pages.parquet"
    write_web_pages_parquet(str(p), 1000)
    return str(p)


@pytest.fixture(scope="session")
def built_index(spark, tiny_corpus, tmp_path_factory):
    """One shared index build over the tiny corpus."""
    from escp_spark.build import build_index

    d = str(tmp_path_factory.mktemp("index"))
    manifest = build_index(
        spark, tiny_corpus, d, n_buckets=8, max_segments=3, n_groups=4
    )
    return d, manifest


@pytest.fixture(scope="session")
def stream_source(tmp_path_factory):
    """The corpus split into 3 parquet files (arriving 'over time') —
    url-deduplicated (streaming ingest is append-only across epochs
    while the batch build is last-write-wins; see ingest.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from escp_spark.corpus import generate_web_pages

    d = tmp_path_factory.mktemp("stream_src")
    cols = generate_web_pages(600, seed=11)
    table = pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
            "html": pa.array(cols["html"], pa.binary()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
        }
    )
    pdf = table.to_pandas().sort_values("warc_ts").drop_duplicates(
        "url", keep="last"
    ).sort_index()
    table = pa.Table.from_pandas(pdf, preserve_index=False).cast(table.schema)
    n = table.num_rows
    for i in range(3):
        pq.write_table(
            table.slice(i * n // 3, n // 3 + (n % 3 if i == 2 else 0)),
            str(d / f"part{i}.parquet"),
        )
    return str(d)


@pytest.fixture(scope="session")
def oracle_docs(tiny_corpus):
    """Deduped url→text dict, same LWW rule as the engine."""
    import pyarrow.parquet as pq

    t = pq.read_table(tiny_corpus).to_pandas()
    import hashlib

    t["tie"] = t["html"].map(lambda h: hashlib.md5(h).hexdigest())
    t = t.sort_values(["url", "warc_ts", "tie"], ascending=[True, False, False])
    t = t.drop_duplicates("url", keep="first")
    return dict(zip(t["url"], t["text"]))


@pytest.fixture()
def batch_sides(monkeypatch):
    """Iterate a batch check over both sides of the batch path's switch:
    the default ``_BIG_MATCHED_POSTINGS`` (a small batch is scored on the
    driver by the serving scorer) and -1 (every batch takes the
    distributed Spark cut). On a test-sized index only the forced side
    reaches the Spark cut, so a check run on the default alone would
    compare the serving scorer with itself."""
    import escp_spark.query as Q

    default = Q._BIG_MATCHED_POSTINGS

    def sides():
        for side, switch in (("driver", default), ("spark", -1)):
            monkeypatch.setattr(Q, "_BIG_MATCHED_POSTINGS", switch)
            yield side

    return sides
