"""Raw-zone partitioned storage (reference A4/A7/A8, config.py:61-99).

The reference writes one HTML file per (site, region, experience) leaf named
``ddmmyyyy.html`` and finds "the latest" by reverse-lexicographic filename
sort — which mis-orders dates (SURVEY.md §1.3). The engine keeps the intent:

  * Hive-partitioned writes on (site, region, experience, ingest_date) —
    Spark manages directories; ingest_date is a proper *sortable* DATE
    partition column, injected explicitly (never wall-clock inside a query).
  * "Latest" = max(ingest_date) via an aggregate joined back as a filter —
    static partition pruning reads only the newest partition's files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COLS = ("site", "region", "experience", "ingest_date")


def write_raw(df: DataFrame, path: str, mode: str = "append") -> None:
    """Partitioned raw-zone write. Expects PARTITION_COLS plus payload
    columns (doc_id, html)."""
    missing = [c for c in PARTITION_COLS if c not in df.columns]
    if missing:
        raise ValueError(f"raw-zone write missing partition columns: {missing}")
    df.write.mode(mode).partitionBy(*PARTITION_COLS).parquet(path)


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
    a typed DATE column, so chronological == sort order by construction.
    """
    df = spark.read.parquet(path)
    for col, val in (("site", site), ("region", region), ("experience", experience)):
        if val is not None:
            df = df.where(F.col(col) == val)
    mx = df.agg(F.max("ingest_date").alias("ingest_date"))
    return df.join(F.broadcast(mx), "ingest_date")
