"""Driver-contract smoke tests: entry() runs on sf0.001 with rows and a
stable schema; every oracle key has a query; registry keys are well-formed.
"""

from __future__ import annotations

import importlib.util
import os

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO_ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_smoke(spark):
    mod = _load_entry_module()
    df = mod.entry(spark)
    assert df.count() > 0
    assert df.schema.fieldNames()[:2] == ["l_returnflag", "l_linestatus"]


def test_registry_consistency():
    mod = _load_entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) >= 60
    # every oracle belongs to a registered query
    assert set(oracles) <= set(qs)
    # every key is a valid identifier-ish snake string
    for k in qs:
        assert k.startswith("q_") and " " not in k


def test_active_order_names_every_key_once():
    """The active queries/_order_rN lists every registered key exactly once:
    _reorder skips stale names silently and appends unlisted keys, so a
    deleted or renamed key would otherwise drift the driver order unseen."""
    from collections import Counter

    from e2e_etl_pipeline_spark import queries
    from e2e_etl_pipeline_spark.registry import QUERIES

    names = queries._order.FIRST + queries._order.LAST
    dup = sorted(k for k, n in Counter(names).items() if n > 1)
    assert not dup, f"listed more than once: {dup}"
    stale = sorted(set(names) - set(QUERIES))
    assert not stale, f"names no key is registered under: {stale}"
    unlisted = sorted(set(QUERIES) - set(names))
    assert not unlisted, f"registered keys the order does not name: {unlisted}"


def test_package_zip_is_staged_inside_the_context(spark, monkeypatch, tmp_path):
    """The shipped zip lives in the context's files directory, which Spark
    deletes when the context stops; nothing lands in the temp directory."""
    import tempfile

    from pyspark import SparkFiles

    from e2e_etl_pipeline_spark import shipping

    monkeypatch.setattr(shipping, "_SHIPPED", set())
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    shipped = []
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)
    shipping.ensure_package_shipped(spark)
    assert list(tmp_path.iterdir()) == []
    root = SparkFiles.getRootDirectory()
    assert len(shipped) == 1 and os.path.commonpath([shipped[0], root]) == root


_STREAM_SOURCE_SCRIPT = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
try:
    rows = entry.queries()["q_stream_python_source"](spark, sys.argv[2]).collect()
    print("rows", len(rows))
finally:
    spark.stop()
"""


def test_python_stream_source_runs_from_any_cwd(sf_dir, tmp_path):
    """The streaming Python data source imports in Spark's source runner
    when the driver runs from another directory with no PYTHONPATH: the
    runner does not see the package zip that addPyFile ships."""
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_LOCAL_DIRS", str(tmp_path))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            _STREAM_SOURCE_SCRIPT,
            os.path.join(REPO_ROOT, "__spark_entry__.py"),
            sf_dir,
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 10" in out.stdout
