"""B.9 — streaming semantics, registered as batch-equivalent queries.

``window()``/``session_window()`` compute identically in batch and streaming,
so the oracle-checked batch results here pin down exactly the semantics the
streaming tests (tests/test_streaming.py) assert under readStream+watermark.

q_stream_watermark / q_stream_dedup / q_stream_enrich / q_stream_stateful
run REAL Structured Streaming jobs (file source over the events parquet,
Trigger.availableNow, memory sink — the last via applyInPandasWithState);
over a static snapshot their results are deterministic, so all four are
fully oracle-checked (stronger than SURVEY.md §2 B.9's rows-only contract).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table, read_events_stream
from e2e_etl_pipeline_spark.functions.money import money_sum
from e2e_etl_pipeline_spark.registry import register
from e2e_etl_pipeline_spark.streaming import windows as sw


def _run_to_memory_sink(
    df: DataFrame,
    prefix: str,
    output_mode: str,
    shuffle_partitions: str = "4",
) -> DataFrame:
    """Run a streaming frame to completion into a memory sink under
    Trigger.availableNow and return a reader over it — the ONE copy of
    the sink-name/conf-scoping boilerplate the streaming keys share.

    The stateful operators create one state store per shuffle partition
    at checkpoint creation; 32 stores for a handful of keys is pure setup
    cost, so the shuffle partition count is scoped down for the stream
    start and restored after (batch queries are unaffected — AQE
    coalesces them anyway)."""
    spark = df.sparkSession
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)



@register(
    "q_stream_tumbling",
    oracle="""
    SELECT
      CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
      event_type,
      count(*)                AS n_events,
      CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                              AS sum_value
    FROM events
    WHERE ts IS NOT NULL  -- window(ts) drops NULL event-time rows
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type; window() aligns to the epoch
    so hour buckets equal date_trunc('hour')."""
    return sw.tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour")


@register(
    "q_stream_sliding",
    oracle="""
    WITH slid AS (
      SELECT
        make_timestamp(((CAST(epoch_us(ts) AS BIGINT) // 900000000) - k) * 900000000)
          AS window_start,
        value
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
      WHERE ts IS NOT NULL  -- window(ts) drops NULL event-time rows
    )
    SELECT window_start, count(*) AS n_events, CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
    FROM slid
    GROUP BY window_start
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes: each event belongs to 4
    windows. The oracle enumerates the 4 slide offsets explicitly."""
    return sw.sliding_agg(load_table(spark, sf_dir, "events"), "1 hour", "15 minutes")


@register(
    "q_stream_session",
    oracle="""
    WITH ordered AS (
      SELECT
        user_id, ts,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  > INTERVAL 30 MINUTE
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL  -- session_window(ts) drops NULL event-time rows
    ),
    islands AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    )
    SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
           count(*) AS n_events
    FROM islands
    GROUP BY user_id, session_no
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows per user; the oracle is the classic
    gaps-and-islands CTE (SURVEY.md §2 B.9 allows it when stable)."""
    return sw.session_agg(load_table(spark, sf_dir, "events"), "30 minutes")


@register(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real Structured Streaming dedup run: file source over the events
    parquet, project to the dedup key, ``dropDuplicates`` into an
    append-mode memory sink under Trigger.availableNow. The emitted set
    (each user's first appearance, projected to the key alone) is exactly
    the distinct key set — deterministic, so it gets a full oracle, unlike
    most streaming keys.

    Scale: streaming dedup state holds one entry per distinct key per
    shuffle partition. An unbounded stream needs
    ``dropDuplicatesWithinWatermark`` to evict state (asserted in
    tests/test_streaming.py); availableNow over a static snapshot is the
    bounded case where unbounded state is safe.
    """
    stream = (
        read_events_stream(spark, sf_dir)
        .select("user_id")
        .dropDuplicates(["user_id"])
    )
    return _run_to_memory_sink(stream, "dd", "append")


@register(
    "q_stream_watermark",
    oracle="""
    SELECT
      CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
      count(*)                                  AS n_events
    FROM events
    WHERE ts IS NOT NULL  -- window(ts) drops NULL event-time rows
    GROUP BY 1
    """,
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real Structured Streaming run: file source over the events parquet,
    10-minute watermark, 1-hour tumbling agg, Trigger.availableNow into a
    memory sink (complete mode). A static snapshot arrives as one batch, so
    the watermark evicts nothing and the result equals the batch hourly
    count — fully oracle-checkable, not just rows-only. Late-data
    *dropping* (which needs multiple triggers) is asserted in
    tests/test_streaming.py."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    return _run_to_memory_sink(agg, "wm", "complete")


@register(
    "q_stream_enrich",
    oracle="""
    SELECT
      c.c_mktsegment                 AS segment,
      count(*)                       AS n_events,
      CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 2) AS DOUBLE)
                                     AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: a real readStream over the events parquet
    joined to the static customer dimension, aggregated per market segment
    under Trigger.availableNow (complete mode) — the canonical streaming
    enrich topology. Deterministic over a static snapshot, so fully
    oracle-checked.

    Scale: the static side is a broadcast hash join against each
    micro-batch — no stream-side shuffle before the join; only the
    segment-count agg keeps (tiny) state. A dimension too big to
    broadcast becomes a stream-static shuffle join, still stateless."""
    stream = read_events_stream(spark, sf_dir).select("user_id", "value")
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        stream.join(cust, stream.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
    )
    return _run_to_memory_sink(agg, "en", "complete")


@register(
    "q_stream_stateful",
    oracle="""
    SELECT
      event_type                  AS key,
      max(event_id)               AS max_idx,
      CAST(0 AS INTEGER)          AS stale_rounds,
      CAST(FALSE AS BOOLEAN)      AS is_stale
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom applyInPandasWithState operator (A31 progress tracking,
    streaming/stateful.py) run as a REAL streaming job over the events
    parquet: per event type, track the max event_id high-watermark and
    consecutive stale batches. A static snapshot is one batch in which
    every key progresses, so the expected state is exactly (max id, 0
    stale, not stale) — fully oracle-checkable.

    Scale: state is two longs per distinct key, partitioned by key across
    state stores; each micro-batch shuffles only (key, idx) pairs. The
    multi-batch stale-escalation path (which no oracle can express) is
    asserted in tests/test_streaming.py."""
    stream = read_events_stream(spark, sf_dir).select(
        F.col("event_type").alias("key"), F.col("event_id").alias("idx")
    )
    from e2e_etl_pipeline_spark.streaming.stateful import progress_tracker

    tracked = progress_tracker(stream)
    return _run_to_memory_sink(tracked, "st", "update")


def q_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state streaming via Spark 4's transformWithStateInPandas
    (streaming/tws.py): per event type, ValueState-backed running
    count/max/min over a real file-source stream under
    Trigger.availableNow — the second-generation stateful API alongside
    q_stream_stateful's applyInPandasWithState.

    NOT registered as a query key: the transformWithState state-server
    protocol requires google.protobuf in the Python workers, which this
    container lacks (ImportError at stream start), so the operator is
    import-gated — tests/test_streaming.py skips it when protobuf is
    absent and asserts the full path when present. The registered
    stateful-streaming surface remains q_stream_stateful."""
    stream = read_events_stream(spark, sf_dir).select(
        F.col("event_type").alias("key"), "value"
    )
    from e2e_etl_pipeline_spark.streaming.tws import extrema_tracker

    tracked = extrema_tracker(stream)
    return _run_to_memory_sink(tracked, "tw", "update")


@register(
    "q_stream_python_source",
    oracle="""
    WITH offers AS (
      SELECT CAST(p.range AS INTEGER)            AS page,
             p.range * 100 + i.range             AS offer_id
      FROM range(0, 10) p CROSS JOIN range(0, 100) i
    )
    SELECT page,
           count(*)                              AS n_offers,
           CAST(sum(offer_id % 20000 + 3000) AS BIGINT) AS sum_salary
    FROM offers GROUP BY page
    """,
)
def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paginated acquisition as a STREAMING Python Data Source
    (sources/synthetic_ds.SyntheticOffersStreamReader): readStream over
    the custom source under Trigger.availableNow, drained into a memory
    sink, then aggregated per page. This is the reference's incremental
    re-scrape loop (new pages between polls, extract_data.py:108-146)
    with exactly-once offsets instead of a driver-side browser loop;
    content is offset-deterministic, so the batch oracle reproduces it.

    Scale: each micro-batch's pages read partition-parallel; offsets are
    checkpointable JSON, so a real connector restarts where it stopped."""
    from e2e_etl_pipeline_spark.sources.synthetic_ds import register_source

    register_source(spark)
    stream = (
        spark.readStream.format("synthetic_offers")
        .option("npages", 10)
        .option("per_page", 100)
        .load()
    )
    sink = f"pysrc_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).groupBy("page").agg(
        F.count(F.lit(1)).alias("n_offers"),
        F.sum(F.col("offer_id") % 20000 + 3000).alias("sum_salary"),
    )


@register(
    "q_stream_restart",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_stream_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across restarts: the SAME availableNow query runs
    TWICE over one checkpoint into a foreachBatch parquet target. The
    second start recovers the committed offsets, finds no new input, and
    appends nothing — so the target's per-type counts equal a single
    batch pass (the oracle). A sink that double-counted on restart (the
    classic at-least-once bug) fails the hash compare.

    Scale: this is the recovery contract a 100 TB ingest relies on —
    offsets commit per micro-batch, foreachBatch is the restartable sink
    (memory sinks cannot recover), and replay cost after a crash is one
    micro-batch, not the stream."""
    import shutil
    import tempfile

    chk = tempfile.mkdtemp(prefix="e2e_spark_chk_")
    target = tempfile.mkdtemp(prefix="e2e_spark_tgt_")
    try:
        stream = read_events_stream(spark, sf_dir).select("event_id", "event_type")

        def sink(batch: DataFrame, _epoch: int) -> None:
            batch.write.mode("append").parquet(target)

        for _restart in range(2):
            q = (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return (
            spark.read.parquet(target)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .localCheckpoint()  # materialize before the temp dirs go
        )
    finally:
        shutil.rmtree(chk, ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)
