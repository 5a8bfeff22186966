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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries: a static conf, read once per JVM when
# the first generated class compiles. See the module docstring.
CODEGEN_CACHE_ENTRIES = 512


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


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
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
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
    """
    jvm = spark._jvm  # noqa: SLF001
    jvm.java.util.Locale.setDefault(jvm.java.util.Locale.ROOT)
