"""Table layer: sources, index table layout, the one publish protocol.

Production target is Iceberg (the ``web_pages`` corpus and the index
artifact tables); this sandbox image has no Iceberg jars, so the layer
reads/writes plain Parquet directories and reproduces the two Iceberg
properties the engine depends on:

1. **Snapshot pinning** (the scroll's point-in-time view, esscroll.go:154):
   the build records an ``input_snapshot`` fingerprint in its ledger, and
   a reader serves each query from the one manifest it pinned at entry.
2. **Atomic publish** (delay-refresh D3, jobs/escopyjob.go:139-141 +
   183-195 — build the complete copy, then flip). Every writer
   (``build_index``, ``finalize_streamed_index``, ``compact_index``,
   ``delete_urls``) puts each artifact it produces — postings, docmap,
   dictionary, rg_stats sidecar, tombstone set — into a NEW uniquely
   named directory that no manifest names yet, and carries the paths of
   the artifacts it did not change. The streamed level-0 and docmap
   directories are the exception: epochs only ADD files to them, a
   finalize publishes them as they are (the level-0 as the postings),
   and each publish's rg_stats sidecar names the files it serves. The
   ``os.replace`` of
   ``_manifest.json`` is the only step that makes them visible: a crash
   anywhere before it leaves the last published index serving, untouched.
   Right after the swap the writer deletes every artifact the new
   manifest no longer references, so nothing superseded stays at rest.
   A reader therefore never sees a mix of two publishes; the one query
   that can fail is a query already running on the old manifest when
   its files are deleted after the swap, and it fails loudly
   (FileNotFoundError), never with a mixed result. One writer at a time.

When Iceberg jars are present (``spark.sql.catalog.*`` configured), the
same calls go through ``spark.read.format("iceberg")`` — gated behind an
import/config check, never assumed.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_manifest.json"

# Bump when the PHYSICAL index layout changes (row-group sizing, term
# placement, artifact naming) — distinct from codec_version (block byte
# format). An index with an older layout is refused, not served: it has
# to be rebuilt. 3 = one fresh directory per artifact per publish, named
# by the manifest (`paths`), with the rg_stats sidecar as the file list.
# 4 = a streamed finalize publishes its level-0 directory as the
# postings, written at the postings' row-group size; every docmap file
# is a per-bucket ``bucket-NNNNN.parquet``.
INDEX_LAYOUT_VERSION = 4

# Root-level artifact directories: ``<kind>-<id>`` (a bare ``<kind>`` is
# an older layout's, garbage once a current manifest is published).
_ARTIFACT_RE = re.compile(
    r"^(postings|docmap|dictionary|rg_stats|tombstones)(-.+)?$"
)


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        return bool(spark.conf.get("spark.sql.catalog.spark_catalog", None))
    except Exception:
        return False


def read_web_pages(spark: SparkSession, source: str) -> DataFrame:
    """Scan the corpus (S1 analog, esscroll.go:71-194). ``source`` is a
    parquet path (sandbox) or an Iceberg table identifier (production)."""
    if not source.endswith(".parquet") and _iceberg_available(spark):
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)


class IndexLayout:
    """Where one write finds and puts the artifacts of an index.

    index_dir/
      _manifest.json                   the one mutable file: names all below
      postings-<id>/segment=N/         merged postings         (paths.postings
                                       of a build or compaction)
      docmap-<id>/group=G/             docid↔url map           (paths.docmap;
                                       a bucket-NNNNN.parquet per bucket)
      dictionary-<id>/                 term → df/cf            (paths.dictionary)
      rg_stats-<id>/kind=K/segment=N/  serving sidecar = the
                                       publish's file lists     (paths.rg_stats)
      tombstones-<id>/                 soft-deleted doc_ids    (paths.tombstones,
                                       only between delete_urls and compaction)
      staging/<build_id>/shuffled-<key>/
                                       build resume state (ledger-committed,
                                       one per resume key)
      staging/<build_id>/postings_l0[-<id>]/group=G/
                                       level-0 segments         (level0: a
                                       build's ``-<key>``, a compaction
                                       purge's ``-<uuid>``, a stream's bare;
                                       paths.postings too, once a streamed
                                       finalize published it)
      ledger/                          checkpoint ledger (append-only parquet)

    Attributes are resolved from the manifest published at construction:
    ``postings``/``docmap``/``dictionary`` are the published directories,
    ``postings_l0`` the level-0 the published postings derive from (or
    are). Streamed epochs append their docmap and level-0 groups to
    those directories (new files only — a publish's sidecar pins the
    files readers see); before the first publish they go to
    ``docmap-<build_id>`` and ``staging/<build_id>/postings_l0``.
    """

    def __init__(self, index_dir: str, build_id: str = "build0"):
        self.root = os.path.abspath(index_dir)
        self.build_id = build_id
        self.staging = os.path.join(self.root, "staging", build_id)
        self.ledger = os.path.join(self.root, "ledger")
        self.manifest_path = os.path.join(self.root, MANIFEST_NAME)
        self.manifest = _read_manifest(self.root)
        self.paths = dict(self.manifest["paths"]) if self.manifest else {}
        self.postings = self.paths.get("postings")
        self.dictionary = self.paths.get("dictionary")
        self.docmap = self.paths.get("docmap") or self.artifact(
            "docmap", build_id
        )
        level0 = (self.manifest or {}).get("level0")
        if not level0 or self.manifest.get("build_id") != build_id:
            level0 = os.path.join(self.staging, "postings_l0")
        self.postings_l0 = level0

    def ensure_dirs(self):
        for d in (self.root, self.staging, self.ledger):
            os.makedirs(d, exist_ok=True)

    def artifact(self, kind: str, tag: str | None = None) -> str:
        """A directory for a new ``kind`` artifact: ``<kind>-<tag>``, a
        fresh unique name unless the caller derives ``tag`` from what the
        artifact is built from."""
        return os.path.join(self.root, f"{kind}-{tag or uuid.uuid4().hex}")

    def level0_artifact(self) -> str:
        """A directory for a rewritten level-0 (compaction purge)."""
        return os.path.join(self.staging, f"postings_l0-{uuid.uuid4().hex}")


def input_snapshot_fingerprint(source: str) -> str:
    """Lineage fingerprint of the input (Iceberg snapshot-id analog):
    path + mtime + total size — enough to detect a changed input on
    resume without scanning data."""
    total, mtime = 0, 0.0
    if os.path.isfile(source):
        st = os.stat(source)
        total, mtime = st.st_size, st.st_mtime
    elif os.path.isdir(source):
        for root, _, files in os.walk(source):
            for f in files:
                st = os.stat(os.path.join(root, f))
                total += st.st_size
                mtime = max(mtime, st.st_mtime)
    return f"{source}|{total}|{int(mtime)}"


def publish_manifest(layout: IndexLayout, stats: dict, paths: dict) -> dict:
    """Atomic publish of the artifact directories ``paths`` (each one
    absolute directory, written completely before this call): readers
    only trust an index whose manifest exists and whose ``status`` is
    ``published`` (D3 delay-refresh analog). ``stats`` carries the corpus
    statistics and ``level0``. After the swap every artifact the new
    manifest does not reference is deleted."""
    doc = {
        "build_id": layout.build_id,
        "status": "published",
        "publish_id": uuid.uuid4().hex,
        "published_unix": int(time.time()),
        "paths": dict(paths),
        **stats,
    }
    fd, tmp = tempfile.mkstemp(dir=layout.root, suffix=".manifest.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(doc, f, indent=1)
    os.replace(tmp, layout.manifest_path)  # atomic on POSIX
    _delete_unreferenced(layout, doc)
    return doc


def _delete_unreferenced(layout: IndexLayout, manifest: dict) -> None:
    """Delete the artifact directories (root level) and the level-0 and
    shuffle directories (this build's staging) that ``manifest`` does
    not name: the superseded publish, the orphans of a writer that
    crashed before its swap, and other resume keys' staging. A build's
    shuffle ``shuffled-<tag>`` is kept beside its level-0
    ``postings_l0-<tag>``."""
    keep = {os.path.abspath(p) for p in manifest["paths"].values()}
    if manifest.get("level0"):
        level0 = os.path.abspath(manifest["level0"])
        keep.add(level0)
        tag = os.path.basename(level0)[len("postings_l0"):]
        keep.add(os.path.join(os.path.dirname(level0), "shuffled" + tag))
    doomed = [os.path.join(layout.root, e) for e in os.listdir(layout.root)
              if _ARTIFACT_RE.match(e)]
    if os.path.isdir(layout.staging):
        doomed += [os.path.join(layout.staging, e)
                   for e in os.listdir(layout.staging)
                   if e.startswith(("postings_l0", "shuffled"))]
    for d in doomed:
        if d not in keep:
            shutil.rmtree(d, ignore_errors=True)


def _read_manifest(index_dir: str) -> dict | None:
    try:
        with open(os.path.join(index_dir, MANIFEST_NAME)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def load_manifest(index_dir: str) -> dict:
    """The published manifest. Raises when the index was never published,
    or was published under an older layout (it has to be rebuilt)."""
    doc = _read_manifest(index_dir)
    if doc is None or doc.get("status") != "published":
        raise RuntimeError(f"index at {index_dir} is not published")
    sidecar = doc["paths"].get("rg_stats")
    if (doc.get("layout_version", 0) < INDEX_LAYOUT_VERSION
            or not sidecar or not os.path.isdir(sidecar)):
        raise RuntimeError(
            f"index at {index_dir} has layout version "
            f"{doc.get('layout_version')} without its rg_stats sidecar "
            f"(this engine reads layout {INDEX_LAYOUT_VERSION}); rebuild it "
            "with build_index"
        )
    return doc
