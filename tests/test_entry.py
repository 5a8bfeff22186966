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
