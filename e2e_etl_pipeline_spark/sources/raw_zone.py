"""Raw-zone partitioned storage (reference A4/A7/A8, config.py:61-99).

The reference writes one HTML file per (site, region, experience) leaf named
``ddmmyyyy.html`` and finds "the latest" by reverse-lexicographic filename
sort — which mis-orders dates (SURVEY.md §1.3). The engine keeps the intent:

  * Hive-partitioned writes on (site, region, experience, ingest_date) —
    Spark manages directories; ingest_date is a proper *sortable* DATE
    partition column, injected explicitly (never wall-clock inside a query).
  * "Latest" = the newest ingest_date in the relation's own file listing
    (driver-side, no job), applied as an equality filter — a static
    partition filter, so the scan reads only the newest partition's files.
"""

from __future__ import annotations

import datetime as dt
from contextlib import suppress
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.sources.acquire import ACQUIRE_SCHEMA

PARTITION_COLS = ("site", "region", "experience", "ingest_date")


def write_raw(df: DataFrame, path: str, mode: str = "append") -> None:
    """Partitioned raw-zone write. Expects PARTITION_COLS plus payload
    columns (doc_id, html)."""
    missing = [c for c in PARTITION_COLS if c not in df.columns]
    if missing:
        raise ValueError(f"raw-zone write missing partition columns: {missing}")
    df.write.mode(mode).partitionBy(*PARTITION_COLS).parquet(path)


def _partition_values(uri: str) -> dict[str, str]:
    """Partition values of one data file, from its ``key=value`` path
    segments. The listing is a URI, so each value is unescaped twice:
    once for the URI, once for Spark's path escaping (``a b/ż`` is stored
    as ``a b%2Fż`` and listed as ``a%20b%252F%C5%BC``)."""
    values = {}
    for segment in unquote(urlparse(uri).path).split("/"):
        key, sep, value = segment.partition("=")
        if sep and key in PARTITION_COLS:
            values[key] = unquote(value)
    return values


def read_latest(
    spark: SparkSession,
    path: str,
    site: str | None = None,
    region: str | None = None,
    experience: str | None = None,
) -> DataFrame:
    """Read only the newest ingest_date partition (optionally scoped to a
    site/region/experience subtree — all partition-pruned filters).

    This is A8 with the ddmmyyyy byte-sort bug fixed: comparison happens on
    typed dates, so chronological == sort order by construction. The newest
    date comes from the relation's file listing on the driver and reaches
    the scan as a static ``ingest_date = <date>`` partition filter. The
    zone holds what write_raw was given, ACQUIRE_SCHEMA rows, so the read
    declares that schema rather than inferring it with a Spark job.
    """
    df = spark.read.schema(ACQUIRE_SCHEMA).parquet(path)
    scope = {"site": site, "region": region, "experience": experience}
    scope = {col: val for col, val in scope.items() if val is not None}
    dates = []
    for values in map(_partition_values, df.inputFiles()):
        if all(values.get(col) == val for col, val in scope.items()):
            with suppress(ValueError):  # a NULL date: __HIVE_DEFAULT_PARTITION__
                dates.append(dt.date.fromisoformat(values["ingest_date"]))
    for col, val in scope.items():
        df = df.where(F.col(col) == val)
    return df.where(F.col("ingest_date") == F.lit(max(dates)) if dates else F.lit(False))
