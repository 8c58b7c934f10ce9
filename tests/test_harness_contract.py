"""The timing harnesses' view of the engine (Spark-free).

``bench.py`` and ``perfbench/`` are frozen copies: they import engine
names, read its telemetry globals and wrap its layer-boundary functions
by attribute. A rename or deletion in the engine breaks them only at
run time, so this test resolves every such name without starting Spark.
"""

import ast
import importlib
import inspect
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = [os.path.join(ROOT, "bench.py")] + sorted(
    os.path.join(ROOT, "perfbench", f)
    for f in os.listdir(os.path.join(ROOT, "perfbench")) if f.endswith(".py")
)

# Names the harnesses reach through a module alias (``B.build_index``,
# ``Q.last_batch_timings``, …) or patch in perfbench/spans.py's
# install_engine_spans.
ATTRIBUTES = [(m, n) for m, names in {
    "escp_spark.build":
        "build_index last_build_timings merge_segments publish_manifest",
    "escp_spark.query":
        "IndexReader search_topk search_topk_spark last_prune_stats "
        "last_batch_timings _BIG_MATCHED_POSTINGS IndexReader.term_dfs "
        "IndexReader.meta_for_terms IndexReader.fetch_payloads "
        "IndexReader.urls_for",
    "escp_spark.corpus": "scale_queries reference_queries",
    "escp_spark.operators.dedup": "minhash_signatures",
    "escp_spark.session": "get_spark warm_python_workers",
    "escp_spark.sidecar": "write_rg_sidecar",
    "escp_spark.sources.tables": "publish_manifest",
    "escp_spark.streaming.deletes":
        "publish_manifest purge_level0 purge_docmap",
    "escp_spark.streaming.ingest": "publish_manifest last_dedup_stats",
}.items() for n in names.split()]


@pytest.mark.parametrize("module,name", ATTRIBUTES,
                         ids=[f"{m}.{n}" for m, n in ATTRIBUTES])
def test_harness_attribute_resolves(module, name):
    obj = importlib.import_module(module)
    for part in name.split("."):
        obj = getattr(obj, part)


def _engine_imports():
    """Every ``from escp_spark... import name`` and ``import
    escp_spark...`` in the harness files, function-local ones too."""
    for path in HARNESS:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[0] == "escp_spark"):
                for a in node.names:
                    yield os.path.relpath(path, ROOT), node.module, a.name
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == "escp_spark":
                        yield os.path.relpath(path, ROOT), a.name, None


def test_harness_imports_resolve():
    seen = list(_engine_imports())
    assert len(seen) >= 15, seen  # the scan found the harnesses' imports
    for path, module, name in seen:
        mod = importlib.import_module(module)
        if name is not None:
            assert hasattr(mod, name), f"{path}: {module}.{name} is gone"


def test_harness_build_arguments_accepted():
    """The keyword arguments bench.py and perfbench pass to build_index
    and IndexReader are still parameters."""
    from escp_spark.build import build_index
    from escp_spark.query import IndexReader

    build = inspect.signature(build_index).parameters
    for kw in ("n_buckets", "max_segments", "n_groups"):
        assert kw in build, kw
    assert list(build)[:3] == ["spark", "source", "index_dir"]
    assert list(inspect.signature(IndexReader).parameters)[0] == "index_dir"
