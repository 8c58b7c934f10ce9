"""Command-line surface — the cmd/{escp,esdiff,estail} analogs.

    python -m escp_spark.cli build    SOURCE INDEX_DIR [--buckets N]
        [--maxsegs N] [--groups N] [--build-id ID] [--filter SQL]
        ≅ escp (cmd/escp/main.go:17-135): full resumable index build;
        --buckets ≅ --shards (D2), --maxsegs ≅ forcemerge target (D5),
        --filter ≅ the scroll query filter (escopyjob.go:37) — a SQL
        predicate pushed into the corpus scan.

    python -m escp_spark.cli validate SOURCE INDEX_DIR [-d DENOM]
        ≅ esdiff (cmd/esdiff/main.go:16-84): count precheck + sampled
        byte-identity diff; exits 1 on mismatch (main.go:77-78 analog).

    python -m escp_spark.cli diff     INDEX_A INDEX_B --queries Q...
        [-k K] index-vs-index rank/score diff over a query set (the
        esdiff two-live-indexes mode); exits 1 on rank/score drift.

    python -m escp_spark.cli search   INDEX_DIR QUERY [-k K] [--spark]
        BM25 top-k — serving path by default, --spark for the
        distributed batch path.

    python -m escp_spark.cli compact  INDEX_DIR [--maxsegs N]
        compaction for any published index (streamed OR batch-built):
        purge tombstoned docs, re-merge with tail consolidation,
        re-exact stats, republish (the periodic force-merge lifecycle
        step, D5; delete semantics ≅ esbulk.go:190-197).

    python -m escp_spark.cli delete   INDEX_DIR URL... soft-delete urls
        from any published index (tombstones hide them at serve time;
        `compact` purges them physically and re-exacts the stats).

    python -m escp_spark.cli tail     SOURCE [--since 2h] [--terms ...]
        [--not-terms ...] ≅ estail (cmd/estail/estail.go:22-106):
        filtered newest-first scan, anchored at max(warc_ts) in the data.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    p = argparse.ArgumentParser(prog="escp_spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("source")
    b.add_argument("index_dir")
    b.add_argument("--buckets", type=int, default=32)
    b.add_argument("--maxsegs", type=int, default=5)
    b.add_argument("--groups", type=int, default=4)
    b.add_argument("--build-id", default="build0")
    b.add_argument("--filter", default=None,
                   help="SQL predicate pushed into the corpus scan")

    di = sub.add_parser("diff")
    di.add_argument("index_a")
    di.add_argument("index_b")
    di.add_argument("--queries", nargs="+", required=True)
    di.add_argument("-k", type=int, default=10)

    v = sub.add_parser("validate")
    v.add_argument("source")
    v.add_argument("index_dir")
    v.add_argument("-d", "--denom", type=int, default=1000)

    s = sub.add_parser("search")
    s.add_argument("index_dir")
    s.add_argument("query")
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--spark", action="store_true")

    c = sub.add_parser("compact")
    c.add_argument("index_dir")
    c.add_argument("--maxsegs", type=int, default=None,
                   help="defaults to the published manifest's value")
    c.add_argument("--build-id", default=None,
                   help="defaults to the published manifest's build_id; "
                        "a mismatching value fails loudly")

    de = sub.add_parser("delete")
    de.add_argument("index_dir")
    de.add_argument("urls", nargs="+")
    de.add_argument("--build-id", default=None,
                   help="defaults to the published manifest's build_id")

    t = sub.add_parser("tail")
    t.add_argument("source")
    t.add_argument("--since", default="2h")
    t.add_argument("--terms", nargs="*", default=[])
    t.add_argument("--not-terms", nargs="*", default=[])
    t.add_argument("--fields", nargs="*", default=[],
                   help="field:value[,field:value...] terms filters "
                        "(estail.go:109-130)")
    t.add_argument("--not-fields", nargs="*", default=[],
                   help="field:value pairs that must NOT match")
    t.add_argument("--limit", type=int, default=100)

    args = p.parse_args(argv)

    if args.cmd == "diff":
        # Serving path on both indexes — no SparkSession needed.
        from .validate import diff_indexes

        qs = [
            {"query_id": i, "query_text": q, "k": args.k}
            for i, q in enumerate(args.queries)
        ]
        res = diff_indexes(args.index_a, args.index_b, qs)
        print(json.dumps(res))
        return 1 if res["drifted"] else 0

    if args.cmd == "search" and not args.spark:
        # Serving path needs no SparkSession at all.
        from .query import search_topk

        rows = search_topk(
            args.index_dir,
            [{"query_id": 0, "query_text": args.query, "k": args.k}],
        )
        for r in rows:
            print(json.dumps(r))
        return 0

    from pyspark.sql import SparkSession

    from .session import get_spark

    # get_spark is getOrCreate: only stop the session if WE created it
    # (a host process — tests, a notebook — keeps its own session).
    preexisting = SparkSession.getActiveSession()
    spark = get_spark(f"escp_spark_{args.cmd}", master=args.master)
    try:
        if args.cmd == "build":
            from .build import build_index

            manifest = build_index(
                spark, args.source, args.index_dir,
                n_buckets=args.buckets, max_segments=args.maxsegs,
                n_groups=args.groups, build_id=args.build_id,
                source_filter=args.filter,
            )
            from .build import _dir_bytes
            from .functions.fmt import iec_format

            # Human progress summary on stderr (M1/M3 — the esscroll
            # progress-line analog); machine-readable manifest on stdout.
            print(
                f"indexed {manifest['n_docs']} docs, "
                f"{iec_format(_dir_bytes(args.index_dir))} on disk",
                file=sys.stderr,
            )
            print(json.dumps(manifest))
            return 0

        if args.cmd == "compact":
            from .streaming import compact_index

            manifest = compact_index(
                spark, args.index_dir, max_segments=args.maxsegs,
                build_id=args.build_id,
            )
            print(json.dumps(manifest))
            return 0

        if args.cmd == "delete":
            from .streaming import delete_urls

            n = delete_urls(spark, args.index_dir, args.urls,
                            build_id=args.build_id)
            print(json.dumps({"tombstoned_doc_ids": n}))
            return 0

        if args.cmd == "validate":
            from .validate import ValidationError, validate_index

            try:
                res = validate_index(spark, args.source, args.index_dir,
                                     sample_denom=args.denom)
            except ValidationError as e:
                print(str(e), file=sys.stderr)
                return 1
            print(res)
            return 0

        if args.cmd == "search":
            from .query import search_topk_spark

            df = search_topk_spark(
                spark, args.index_dir,
                [{"query_id": 0, "query_text": args.query, "k": args.k}],
            )
            for r in df.collect():
                print(json.dumps(r.asDict()))
            return 0

        if args.cmd == "tail":
            from pyspark.sql import functions as F

            from .sources.tables import read_web_pages

            df = read_web_pages(spark, args.source)
            unit = {"s": "SECONDS", "m": "MINUTES", "h": "HOURS",
                    "d": "DAYS"}[args.since[-1]]
            n = int(args.since[:-1])
            max_ts = df.agg(F.max("warc_ts")).first()[0]
            out = df.filter(
                F.col("warc_ts") >= F.lit(max_ts) - F.expr(f"INTERVAL {n} {unit}")
            )
            for term in args.terms:       # must contain (estail.go:60-66)
                out = out.filter(F.col("text").contains(term))
            for term in args.not_terms:   # must not (estail.go:67-72)
                out = out.filter(~F.col("text").contains(term))

            def _field_terms(pairs):
                # "field:v1,field2:v2" → {field: [v1, ...]} (estail.go:109-130)
                by_field: dict[str, list[str]] = {}
                for spec in pairs:
                    for item in spec.split(","):
                        field, _, value = item.partition(":")
                        if not _ or not field:
                            raise SystemExit(
                                f"bad --fields entry {item!r} (want field:value)"
                            )
                        by_field.setdefault(field, []).append(value)
                return by_field

            for field, values in _field_terms(args.fields).items():
                out = out.filter(F.col(field).isin(values))   # OR within field
            for field, values in _field_terms(args.not_fields).items():
                out = out.filter(~F.col(field).isin(values))
            rows = (
                out.select("url", "warc_ts", "lang",
                           F.substring("text", 1, 120).alias("text_head"))
                .orderBy(F.col("warc_ts").desc(), F.col("url"))
                .limit(args.limit)
                .collect()
            )
            for r in rows:
                print(json.dumps({**r.asDict(), "warc_ts": str(r.warc_ts)}))
            return 0
    finally:
        if preexisting is None:
            spark.stop()
    return 2


if __name__ == "__main__":
    sys.exit(main())
