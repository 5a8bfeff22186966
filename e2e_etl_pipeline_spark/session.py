"""SparkSession factory with scale-aware defaults.

The reference executes single-threaded Python with no tuning surface at all
(SURVEY.md §4.1); the engine centralizes its Spark configuration here so the
same settings apply in tests, bench runs, and the driver entry point.

Settings rationale (targeting a 1000-executor / 100 TB deployment, tested on
local[N]):
  * AQE on (+ coalescePartitions + skewJoin): runtime re-planning replaces
    hand-tuned shuffle partition counts and fixes skewed joins without salting
    in the common case.
  * shuffle.partitions defaults to the local core count for small-SF test
    runs; at cluster scale this is overridden by AQE's coalescing from the
    initial (larger) number.
  * Arrow enabled: every toPandas()/pandas_udf boundary is vectorized.
  * Session timezone pinned to UTC: the reference's wall-clock dependence is
    an explicit bug to avoid (SURVEY.md §1.3); all time semantics here are
    deterministic UTC.
  * Codegen cache capped at CODEGEN_CACHE_ENTRIES (Spark's default is 100).
    A daily batch repeats the same plans, and the 12 bench headline keys
    alone compile 146 distinct generated classes, at sf0.1 and sf0.001
    alike; under the default LRU cap every warm pass Janino-compiled 82-120
    of them again and the JIT compiled the reloaded classes from scratch.
    512 is 3.5x that working set. It is not sized to the whole registry:
    one pass over all 290 keys compiles 3,305 distinct classes, and
    uncapped they stay loaded (~25 MB more metaspace after GC than at the
    default cap, ~8 KB per class) for sweeps that do not repeat them; at
    512 that retained cost is ~3 MB.

Class-data sharing (JDK 17 dynamic AppCDS) for the driver JVM:
  * Why. Without it every run's JVM loads, parses and verifies the same
    thousands of Spark classes from jars before the first query. Mapped
    from an archive, get_session went ~7.2 s -> ~3.7-4.1 s and the daily
    offers job's benchmark set-up 26.0 -> 18.6 s (medians of 10 pairs,
    4 vCPU); the JVM's Metaspace fell from ~163 to ~52 MB committed. The
    archived classes were verified when they were dumped, so no check is
    turned off.
  * Where. ``$XDG_CACHE_HOME`` (default ``~/.cache``) under
    ``e2e_etl_pipeline_spark/``, never the checkout. The file name carries a
    digest of the JDK (``$JAVA_HOME/release``) and of ``$SPARK_HOME/jars``
    (names and sizes), so a new JDK or Spark records a new archive, and a
    recorded archive deletes those under other keys.
  * Recording. With no archive for the key, the JVM runs with
    ``-XX:ArchiveClassesAtExit=<temporary file>``, starts ~3 s slower and
    writes 140-170 MB for ~17-25 s as it exits. An atexit hook makes Python wait for that JVM, so no
    process outlives its caller, and renames the file into place only if
    the JVM exited with status 0. Delete the archive to record a new one.
  * Later runs pass ``-XX:SharedArchiveFile=<archive> -Xshare:auto``. A
    stale, mismatched or damaged archive falls back silently to loading
    from jars.
  * JDK 17 refuses a non-empty directory on an archived class path, and
    Spark puts its conf directory on it. When that directory holds only
    ``*.template`` files, the JVM starts with SPARK_CONF_DIR at an empty
    directory in the cache: one fixed path, because the archive matches the
    class path string. When it holds a live file, or another directory
    joins the class path (``_CLASSPATH_ENV``, spark.driver.extraClassPath),
    the session starts without an archive and its configuration is left
    alone.
  * JVM log lines go to stderr: a dump warns on stdout once per class it
    cannot archive, and bench.py's stdout is one JSON line.
  * A caller's own spark.driver.extraJavaOptions come after these options,
    so they win.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
from typing import NamedTuple

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries: a static conf, read once per JVM when
# the first generated class compiles. See the module docstring.
CODEGEN_CACHE_ENTRIES = 512

# (JVM view, Locale.setDefault, Locale.ROOT) of the JVM pin_root_locale last
# pinned, so a query in the same JVM makes one py4j call for the pin.
_LOCALE_PIN: tuple | None = None

# JVM logging for the class-data-sharing runs: warnings and errors to stderr.
_CDS_LOG = "-Xlog:disable -Xlog:all=warning:stderr"
# Spark's launcher puts each of these directories on the driver's class path.
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


class _Cds(NamedTuple):
    java_options: str  # the whole spark.driver.extraJavaOptions
    conf_dir: str  # SPARK_CONF_DIR for the launch: an empty directory
    recording: str | None  # the temporary archive a recording run writes


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(root, "e2e_etl_pipeline_spark")


def _archive_key(spark_home: str) -> str:
    """Digest of the JDK's release file and the Spark jars' names and sizes."""
    java = shutil.which("java") or ""
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h = hashlib.sha1()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"{name}\0{os.path.getsize(os.path.join(jars, name))}\n".encode())
    return h.hexdigest()[:16]


def _class_data_sharing(conf: dict[str, str]) -> _Cds | None:
    """How to launch the driver JVM from an archive (module docstring), or
    None when it must start without one."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    with contextlib.suppress(FileNotFoundError):
        if any(not name.endswith(".template") for name in os.listdir(conf_dir)):
            return None
    if "spark.driver.extraClassPath" in conf or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    cache = _cache_dir()
    empty = os.path.join(cache, "conf")
    try:
        key = _archive_key(spark_home)
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or any(c.isspace() for c in cache):
            return None
    except OSError:
        return None
    archive = os.path.join(cache, f"cds-{key}.jsa")
    if os.path.isfile(archive):
        options, recording = f"-XX:SharedArchiveFile={archive} -Xshare:auto", None
    else:
        recording = os.path.join(cache, f"cds-{key}.{os.getpid()}.tmp")
        options = f"-XX:ArchiveClassesAtExit={recording}"
    own = conf.get("spark.driver.extraJavaOptions", "")
    return _Cds(f"{options} {_CDS_LOG} {own}".strip(), empty, recording)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        return True
    return True


def _finish_jvm(gateway, owner: int, recording: str | None) -> None:
    """At Python exit: stop the driver JVM and wait for it, then keep a
    recorded archive only if the JVM exited with status 0."""
    proc = getattr(gateway, "proc", None)
    if os.getpid() != owner or proc is None:
        return
    if proc.poll() is None:
        with contextlib.suppress(Py4JError):
            if SparkContext._active_spark_context is not None:  # noqa: SLF001
                SparkContext._active_spark_context.stop()  # noqa: SLF001
            gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if recording is None:
        return
    with contextlib.suppress(OSError):
        if proc.returncode != 0 or os.path.getsize(recording) == 0:
            os.remove(recording)
            return
        archive = recording.rsplit(".", 2)[0] + ".jsa"
        os.replace(recording, archive)
        # Archives under other keys, and files of recording runs that died.
        for path in glob.glob(os.path.join(os.path.dirname(archive), "cds-*")):
            pid = path.rsplit(".", 2)[1] if path.endswith(".tmp") else ""
            if path != archive and not (pid.isdigit() and _pid_alive(int(pid))):
                os.remove(path)


def get_session(
    app_name: str = "e2e_etl_pipeline_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    conf = dict(extra_conf or {})
    # Only a JVM this call launches can start from an archive.
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ  # noqa: SLF001
    cds = _class_data_sharing(conf) if launches else None
    if cds:
        conf["spark.driver.extraJavaOptions"] = cds.java_options
    for k, v in conf.items():
        builder = builder.config(k, v)
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if cds:
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if cds:
            del os.environ["SPARK_CONF_DIR"]
            if conf_dir is not None:
                os.environ["SPARK_CONF_DIR"] = conf_dir
    if cds:
        atexit.register(_finish_jvm, SparkContext._gateway, os.getpid(), cds.recording)  # noqa: SLF001
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC at runtime.

    Query callables that render or bucket timestamps call this defensively:
    the driver hands us an externally-built session whose timezone config we
    don't control, and the DuckDB oracle computes in naive/UTC time.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def pin_root_locale(spark: SparkSession) -> None:
    """Pin the JVM default locale to Locale.ROOT at runtime.

    Spark's upper()/lower() case-map through the JVM DEFAULT locale: under
    -Duser.language=tr, upper('i') = 'İ' and lower('I') = 'ı' (dotted /
    dotless Turkish I — verified live, round-7 locale sweep; it split
    q_str_clean.cleaned_upper from the DuckDB oracle, which case-maps via
    locale-independent utf8proc). Every casing expression in the engine is
    therefore locale-sensitive unless the JVM locale is pinned. Same
    defensive posture as pin_utc: the driver's JVM is not ours to
    configure, so enforce at the query boundary. On a real cluster the
    matching deployment conf is
    spark.executor.extraJavaOptions=-Duser.language=en (executor JVMs each
    case-map locally); local[N] shares the driver JVM, which this covers.

    Looking up ``Locale.setDefault`` and ``Locale.ROOT`` through py4j is 5
    round trips, so they are resolved once per JVM (``_LOCALE_PIN``): a
    query pays 1 call for the pin, not 9 (~0.3 ms, not ~5 ms).
    """
    global _LOCALE_PIN
    jvm = spark._jvm  # noqa: SLF001
    if _LOCALE_PIN is None or _LOCALE_PIN[0] is not jvm:
        locale = jvm.java.util.Locale
        _LOCALE_PIN = (jvm, locale.setDefault, locale.ROOT)
    _LOCALE_PIN[1](_LOCALE_PIN[2])
