"""The Python-worker daemon of the sessions session.get_session launches:
workers import pyspark from the installed package, hold no jar or
pyspark.zip on their path and never load pandas for the offers parse; a
pyspark.zip of another version stays, and the caller's worker PYTHONPATH is
kept."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile

from e2e_etl_pipeline_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _daemon():
    spec = importlib.util.spec_from_file_location(
        "lean_daemon_under_test", os.path.join(session._DAEMON_DIR, f"{session._DAEMON_MODULE}.py")  # noqa: SLF001
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fake_pyspark(tmp_path, zip_version: str, installed_version: str | None):
    """A path like the workers' launch path: pyspark.zip, a jar, and a
    site directory with (or without) an installed pyspark."""
    zip_path = tmp_path / "lib" / "pyspark.zip"
    zip_path.parent.mkdir()
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    site = tmp_path / "site"
    site.mkdir()
    if installed_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(f"__version__: str = '{installed_version}'\n")
    jar = str(tmp_path / "spark-core_2.13-4.1.2.jar")
    return [str(tmp_path), str(zip_path), jar, str(site)], str(zip_path), jar


def test_same_version_drops_the_zip_and_the_jars(tmp_path):
    path, zip_path, jar = _fake_pyspark(tmp_path, "4.1.2", "4.1.2")
    assert _daemon().lean_path(path) == [p for p in path if p not in (zip_path, jar)]


def test_a_version_mismatch_keeps_the_zip(tmp_path):
    path, _, jar = _fake_pyspark(tmp_path, "4.1.2", "4.1.1")
    assert _daemon().lean_path(path) == [p for p in path if p != jar]


def test_no_installed_pyspark_keeps_the_zip(tmp_path):
    path, _, jar = _fake_pyspark(tmp_path, "4.1.2", None)
    assert _daemon().lean_path(path) == [p for p in path if p != jar]


def test_the_callers_worker_pythonpath_is_kept_and_extended():
    own = os.pathsep.join(["/opt/site-a", "/opt/site-b"])
    conf = session._worker_daemon({"spark.executorEnv.PYTHONPATH": own})  # noqa: SLF001
    assert conf == {
        "spark.python.daemon.module": session._DAEMON_MODULE,  # noqa: SLF001
        "spark.executorEnv.PYTHONPATH": os.pathsep.join([own, session._DAEMON_DIR]),  # noqa: SLF001
    }
    assert session._worker_daemon({})["spark.executorEnv.PYTHONPATH"] == session._DAEMON_DIR  # noqa: SLF001
    # A daemon the caller names is left alone.
    assert session._worker_daemon({"spark.python.daemon.module": "pyspark.daemon"}) == {}  # noqa: SLF001


def test_get_session_starts_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == session._DAEMON_MODULE  # noqa: SLF001
    assert conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[-1] == session._DAEMON_DIR  # noqa: SLF001


PROBE = r"""
import json, os, sys
import pyarrow as pa
from e2e_etl_pipeline_spark.pipeline.offers import extract_offers
from e2e_etl_pipeline_spark.session import get_session
from e2e_etl_pipeline_spark.shipping import ensure_package_shipped

spark = get_session("worker-path-probe")
ensure_package_shipped(spark)
html = "<div data-test='default-offer'><a data-test='link-offer-title'>SRE</a></div>"
docs = spark.createDataFrame([(1, "ppl", html)], "doc_id long, site string, html string")
assert len(extract_offers(docs).collect()) == 1


def probe(batches):
    import pyspark

    seen = {
        "lean": not any(p.endswith(".jar") or os.path.basename(p) == "pyspark.zip" for p in sys.path),
        "pyspark": pyspark.__file__,
        "pandas": "pandas" in sys.modules,
        "parsed_here": "e2e_etl_pipeline_spark.pipeline.offers" in sys.modules,
    }
    for _ in batches:
        pass
    yield pa.RecordBatch.from_arrays([pa.array([json.dumps(seen)])], names=["seen"])


print(spark.range(1).mapInArrow(probe, "seen string").collect()[0][0])
"""


def test_reused_worker_runs_lean_after_the_offers_parse(tmp_path):
    """One core, so one worker: it parses offers, then answers the probe
    (read before the probe builds its output)."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    seen = json.loads(out.stdout.strip().splitlines()[-1])
    assert seen["parsed_here"], seen
    assert seen["lean"], seen
    assert ".zip" not in seen["pyspark"] and os.path.isfile(seen["pyspark"]), seen
    assert not seen["pandas"], seen
