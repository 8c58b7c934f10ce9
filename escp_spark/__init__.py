"""escp_spark — a PySpark-native inverted-index build + BM25 query engine.

A brand-new engine with the capabilities of the reference (lytics/escp,
an Elasticsearch index copy/validate toolkit): it replaces escp's
"copy documents into ES and let Lucene index them" pipeline with a
from-scratch, Spark-first index construction and query stack:

- ``corpus``    — deterministic Common-Crawl-style ``web_pages`` generator
                  (the Iceberg-table stand-in) + reference query set.
- ``analyzer``  — html→text extraction (byte-identical per url) and the
                  versioned tokenizer shared by build, query and oracle.
- ``codec``     — numpy delta+varint posting-block codec with block-max
                  metadata (the Lucene segment-format analog).
- ``build``     — the index build pipeline (escp copy-job analog):
                  dedup → extract → tokenize → bucketed segment build →
                  merge → staged publish, with a checkpoint ledger for
                  resume (realizes esscroll.go:129 / 293-294 TODOs).
- ``query``     — BM25 top-k with block-max pruning (rank-identical to
                  the exhaustive oracle).
- ``oracle``    — naive pure-Python index + exhaustive BM25 (the esdiff
                  analog: golden output the Spark engine must match).
- ``validate``  — count + sampled byte-equality validation job
                  (jobs/validationjob.go + esdiff/esdiff.go analog).
- ``operators`` — training-data-pipeline operators over the driver's
                  ``documents``/``embeddings`` tables: dedup (exact,
                  minhash-LSH, simhash), ANN similarity search, text
                  quality/langid/token-count/fingerprint.

Everything is DataFrame/SQL-first; Python appears only inside
Arrow-vectorized pandas UDFs (no per-row Python anywhere).
"""

__version__ = "0.1.0"
