"""session.get_session: the codegen cache holds a repeated working set larger
than Spark's default cap of 100 generated classes, and the driver JVM starts
from a class-data-sharing archive on the serial collector unless the caller
names a collector."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from e2e_etl_pipeline_spark import session

# Eleven headline keys: 139 generated classes when run cold one by one at
# sf0.001, so Spark's default 100-entry LRU cache would evict on every pass.
KEYS = (
    "q_similarity_topk",
    "q_join_star",
    "q_dedup_exact",
    "q_window_topk_per_group",
    "q_join_broadcast",
    "q_agg_groupby",
    "q_text_wordcount",
    "q_stream_tumbling",
    "q_topk",
    "q_salary_parse",
    "q_agg_count_distinct",
)


def test_warm_passes_compile_no_generated_classes(spark, sf_dir):
    """Three back-to-back passes over the keys: the third compiles nothing.
    (Not the second: the third leaves a margin for a plan variant whose
    class compiles late.)"""
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()  # noqa: SLF001
    per_pass = []
    for _ in range(3):
        before = compiled.getCount()
        for key in KEYS:
            QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        per_pass.append(compiled.getCount() - before)
    assert per_pass[2] == 0, per_pass


@pytest.fixture
def cds_env(tmp_path, monkeypatch):
    """A cache directory and a conf directory of templates only."""
    for var in (*session._CLASSPATH_ENV, *session._JAVA_OPTIONS_ENV):  # noqa: SLF001
        monkeypatch.delenv(var, raising=False)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return tmp_path


def test_live_conf_file_starts_without_an_archive(cds_env):
    conf = cds_env / "conf"
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert session._class_data_sharing({}) is None  # noqa: SLF001
    assert os.environ["SPARK_CONF_DIR"] == str(conf)


def test_templates_only_conf_records_then_shares_an_archive(cds_env):
    """No archive: the recording flags and the cache's empty conf dir. An
    archive in place: the sharing flags. JVM log lines go to stderr, and
    the JVM runs the serial collector."""
    cache = cds_env / "cache" / "e2e_etl_pipeline_spark"
    rec = session._class_data_sharing({})  # noqa: SLF001
    assert rec.conf_dir == str(cache / "conf") and os.listdir(rec.conf_dir) == []
    assert rec.java_options.startswith(f"-XX:ArchiveClassesAtExit={rec.recording} ")
    assert rec.java_options.endswith(f"{session._CDS_LOG} {session._GC}")  # noqa: SLF001
    assert os.path.dirname(rec.recording) == str(cache)
    archive = rec.recording.rsplit(".", 2)[0] + ".jsa"
    open(archive, "wb").close()
    use = session._class_data_sharing({})  # noqa: SLF001
    assert use.recording is None and use.conf_dir == rec.conf_dir
    assert use.java_options.startswith(f"-XX:SharedArchiveFile={archive} -Xshare:auto ")


def test_callers_java_options_are_kept_last(cds_env):
    own = "-Duser.language=tr -Duser.country=TR"
    cds = session._class_data_sharing({"spark.driver.extraJavaOptions": own})  # noqa: SLF001
    assert cds.java_options.endswith(f"{session._CDS_LOG} {session._GC} {own}")  # noqa: SLF001


@pytest.mark.parametrize("collector", ["-XX:+UseG1GC", "-XX:-UseSerialGC", "-XX:+UseParallelGC"])
@pytest.mark.parametrize(
    "where",
    ["spark.driver.extraJavaOptions", "spark.driver.defaultJavaOptions", *session._JAVA_OPTIONS_ENV],  # noqa: SLF001
)
def test_a_named_collector_adds_no_collector_flag(cds_env, monkeypatch, collector, where):
    """JDK 17 refuses to start with two collectors selected, so a collector
    the caller names anywhere that reaches the driver JVM wins alone."""
    conf = {}
    if where.startswith("spark."):
        conf[where] = f"-Dx=1 {collector}"
    else:
        monkeypatch.setenv(where, f"-Dx=1 {collector}")
    cds = session._class_data_sharing(conf)  # noqa: SLF001
    own = conf.get("spark.driver.extraJavaOptions")
    assert cds.java_options.endswith(f"{session._CDS_LOG} {own}" if own else session._CDS_LOG)  # noqa: SLF001


def test_an_option_that_selects_no_collector_keeps_the_flag(cds_env, monkeypatch):
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:+UseMaximumCompactionOnSystemGC -XX:+UseStringDeduplication")
    cds = session._class_data_sharing({})  # noqa: SLF001
    assert cds.java_options.endswith(f"{session._CDS_LOG} {session._GC}")  # noqa: SLF001


class _ExitedJvm:
    def __init__(self, returncode: int) -> None:
        self.returncode = returncode

    def poll(self) -> int:
        return self.returncode


class _Gateway:
    def __init__(self, returncode: int) -> None:
        self.proc = _ExitedJvm(returncode)


@pytest.mark.parametrize("returncode", [0, 1])
def test_recorded_archive_is_kept_only_after_a_clean_exit(tmp_path, returncode):
    """Status 0 renames the recording into place and deletes archives under
    other keys and files of dead recording runs; any other status deletes
    the recording."""
    recording = tmp_path / f"cds-new.{os.getpid()}.tmp"
    recording.write_bytes(b"archive")
    stale = [tmp_path / "cds-old.jsa", tmp_path / "cds-new.999999999.tmp"]
    for path in stale:
        path.write_bytes(b"x")
    session._finish_jvm(_Gateway(returncode), os.getpid(), str(recording))  # noqa: SLF001
    left = sorted(p.name for p in tmp_path.iterdir())
    if returncode == 0:
        assert left == ["cds-new.jsa"]
    else:
        assert left == sorted(p.name for p in stale)


def test_driver_jvm_maps_the_archive_or_records_it(spark):
    """The session's JVM was launched either to record the archive or
    from it, and then it maps the archive file. SPARK_CONF_DIR pointed at
    the empty conf dir only for the launch."""
    from pyspark import SparkContext

    cds = session._class_data_sharing({})  # noqa: SLF001
    if cds is None:
        pytest.skip("this Spark installation starts without an archive")
    assert os.environ.get("SPARK_CONF_DIR") != cds.conf_dir, "not restored after the launch"
    pid = SparkContext._gateway.proc.pid  # noqa: SLF001
    with open(f"/proc/{pid}/cmdline") as f:
        args = f.read().split("\0")
    if any(a.startswith("-XX:ArchiveClassesAtExit=") for a in args):
        return
    (archive,) = [a.split("=", 1)[1] for a in args if a.startswith("-XX:SharedArchiveFile=")]
    with open(f"/proc/{pid}/maps") as f:
        assert archive in f.read()


def test_damaged_archive_falls_back(tmp_path):
    """-Xshare:auto ignores an archive it cannot map, exits 0, and with the
    session's log options writes nothing on stdout."""
    bad = tmp_path / "cds-bad.jsa"
    bad.write_bytes(b"not an archive")
    java = shutil.which("java", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) or "java"
    out = subprocess.run(
        [java, f"-XX:SharedArchiveFile={bad}", "-Xshare:auto", *session._CDS_LOG.split(), "-version"],  # noqa: SLF001
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout == "" and "version" in out.stderr


def test_driver_jvm_runs_the_serial_collector(spark):
    if session._class_data_sharing({}) is None:  # noqa: SLF001
        pytest.skip("this Spark installation leaves the launch alone")
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()  # noqa: SLF001
    assert {b.getName() for b in beans} == {"Copy", "MarkSweepCompact"}


def test_a_collector_in_the_environment_wins(tmp_path):
    """A JVM launched through get_session under JAVA_TOOL_OPTIONS=-XX:+UseG1GC
    starts, on G1: the session added no second collector."""
    probe = (
        "from e2e_etl_pipeline_spark.session import get_session\n"
        "s = get_session('gc-probe')\n"
        "beans = s._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()\n"
        "print(sorted(b.getName() for b in beans))\n"
    )
    env = dict(
        os.environ,
        JAVA_TOOL_OPTIONS="-XX:+UseG1GC",
        PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEMORY="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "['G1 Old Generation', 'G1 Young Generation']"


@pytest.mark.parametrize("collector", ["-XX:+UseSerialGC", "-XX:+UseG1GC"])
def test_archive_maps_under_either_collector(spark, collector):
    """The archive a session recorded maps under both collectors with
    -Xshare:on (which exits 1 rather than fall back), so a JVM started on
    G1 by a caller who asks for it still starts from the archive."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/cmdline") as f:  # noqa: SLF001
        args = f.read().split("\0")
    archives = [a.split("=", 1)[1] for a in args if a.startswith("-XX:SharedArchiveFile=")]
    if not archives:
        pytest.skip("the session's JVM did not start from an archive")
    class_path = args[args.index("-cp") + 1]
    out = subprocess.run(
        [args[0], "-cp", class_path, f"-XX:SharedArchiveFile={archives[0]}", "-Xshare:on", collector, "-version"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
