"""End-to-end pipeline parity for the acquisition + raw-zone path
(A1-A8): synthetic fetch → hive-partitioned write over two ingest dates →
latest-partition pruned read → DOM parse → typed offers. Verifies the
§1.3 fix: "latest" is a DATE comparison, never a filename sort.
"""

from __future__ import annotations

import datetime as dt
import re
import shutil
import tempfile

from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.pipeline.offers import parse_offers
from e2e_etl_pipeline_spark.sources.acquire import fetched_documents
from e2e_etl_pipeline_spark.sources.raw_zone import read_latest, write_raw

TARGETS = [("jjit", "waw", "junior"), ("ppl", "gd", "senior")]


def test_raw_zone_roundtrip_and_latest(spark):
    path = tempfile.mkdtemp(prefix="e2e_raw_zone_")
    try:
        # The ddmmyyyy byte-sort bug would order these wrongly (31012024 >
        # 01082024 lexicographically, but Jan 31 < Aug 1; 31122023 also
        # byte-sorts after 31012024). The two older dates carry the only
        # rows of a region whose value needs path escaping.
        d_older = dt.date(2023, 12, 31)
        d_old = dt.date(2024, 1, 31)
        d_new = dt.date(2024, 8, 1)
        escaped = [("jjit", "a b/ż", "junior")]
        write_raw(fetched_documents(spark, TARGETS + escaped, d_older), path)
        write_raw(fetched_documents(spark, TARGETS + escaped, d_old), path)
        write_raw(fetched_documents(spark, TARGETS, d_new), path)

        # building the frame runs no Spark job (no schema inference)
        sc = spark.sparkContext
        sc.setJobGroup("raw-zone-read-latest", "read_latest")
        try:
            latest = read_latest(spark, path)
        finally:
            sc.setJobGroup("raw-zone-idle", "idle")
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert not sc.statusTracker().getJobIdsForGroup("raw-zone-read-latest")

        dates = {r.ingest_date for r in latest.select("ingest_date").distinct().collect()}
        assert dates == {d_new}

        # the newest date is a static partition filter on the scan, not a
        # join against a max aggregate over the whole zone
        plan = latest._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[[^\]]*\(ingest_date#\d+ = 2024-08-01\)", plan), plan

        esc = read_latest(spark, path, site="jjit", region="a b/ż").collect()
        assert [(r.region, r.ingest_date) for r in esc] == [("a b/ż", d_old)]

        scoped = read_latest(spark, path, site="jjit", region="waw")
        assert scoped.count() == 1

        # partition pruning: site/region land in PartitionFilters, not data
        plan = scoped._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan

        offers = parse_offers(
            latest.select("doc_id", "site", "html")
        )
        got = offers.select("site", "position", "minimum", "maximum", "currency").collect()
        assert len(got) == 6  # 3 offers per site
        by_site = {r.site for r in got}
        assert by_site == {"jjit", "ppl"}
        for r in got:
            assert r.currency == "PLN"
            assert r.minimum is not None and r.minimum <= r.maximum
    finally:
        shutil.rmtree(path, ignore_errors=True)
