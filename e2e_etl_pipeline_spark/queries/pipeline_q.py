"""A1-A8 pipeline parity queries: CSV round-trip, whole-file text source,
partitioned write + partition-pruned read, latest-partition pruning, and the
full offers pipeline (synthetic HTML → parsed staging rows).

The write-path queries materialize into a session-scoped temp dir and read
back — exercising the real sink/source code, while the oracle states the
round-trip invariant directly against the original table.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions.rounding import stable_round
from e2e_etl_pipeline_spark.pipeline.offers import parse_offers
from e2e_etl_pipeline_spark.functions.money import money_sum
from e2e_etl_pipeline_spark.registry import register


def _tmpdir(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"e2e_spark_{tag}_")


@register(
    "q_csv_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total
    FROM orders
    """,
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: header CSV write + schema'd read-back; the oracle asserts the
    round-trip is lossless against the source table."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _tmpdir("csv")
    try:
        o.write.mode("overwrite").option("header", True).csv(path)
        schema = T.StructType(
            [
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_orderstatus", T.StringType()),
                T.StructField("o_totalprice", T.DoubleType()),
            ]
        )
        back = spark.read.option("header", True).schema(schema).csv(path)
        return back.select(
            "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("total")
        ).localCheckpoint()  # materialize before the temp dir is removed
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_text_source",
    oracle="""
    SELECT
      CAST(length(string_agg(text, chr(10) ORDER BY doc_id)) AS BIGINT) AS n_chars,
      count(*)                                                          AS n_docs
    FROM documents
    WHERE doc_id < 10
    """,
)
def q_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: whole-file text read. Writes the ordered concatenation of 10 docs
    as one file (the reference's merged-HTML artifact, A28), reads it back
    with wholetext=True, and reports its length — which the oracle recomputes
    from the table directly."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 10)
    merged = d.orderBy("doc_id").agg(
        F.array_join(F.collect_list("text"), "\n").alias("value"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    row = merged.collect()[0]
    if row["n_docs"] == 0:
        # string_agg over zero rows is NULL; an empty written file reads
        # back as zero rows, so mirror the oracle without the round-trip.
        return spark.createDataFrame(
            [(None, 0)], "n_chars bigint, n_docs bigint"
        )
    path = _tmpdir("text")
    try:
        with open(f"{path}/doc.txt", "w", encoding="utf-8") as f:
            f.write(row["value"])
        back = spark.read.text(path, wholetext=True)
        return back.select(
            F.length("value").cast("bigint").alias("n_chars"),
            F.lit(row["n_docs"]).cast("bigint").alias("n_docs"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_partitioned_write",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: hive-partitioned write + read-back. The group-by on the partition
    column after read-back must reproduce the source distribution; the scan
    derives o_orderstatus from directory names, not file contents."""
    o = load_table(spark, sf_dir, "orders")
    path = _tmpdir("part")
    try:
        o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
        back = spark.read.parquet(path)
        return (
            back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_latest_partition",
    oracle="""
    SELECT
      CAST(o_orderdate AS DATE)   AS order_day,
      count(*)                    AS n_orders,
      CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        AS total
    FROM orders
    WHERE date_trunc('month', o_orderdate) =
          (SELECT max(date_trunc('month', o_orderdate)) FROM orders)
    GROUP BY 1
    """,
)
def q_latest_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8's intent (newest partition only), done right: max(month) computed
    as an aggregate and joined back as a broadcast filter — at scale this is
    dynamic partition pruning, never a filename sort (SURVEY.md §1.3)."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    mx = o.agg(F.max(month).alias("_max_month"))
    return (
        o.join(F.broadcast(mx), month == F.col("_max_month"))
        .groupBy(F.col("o_orderdate").cast("date").alias("order_day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("total"),
        )
    )


@register(
    "q_layout_sorted_write",
    oracle="""
    SELECT
      count(*)                  AS n_rows,
      CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
        AS total_qty,
      CAST(min(l_shipdate) AS TIMESTAMP) AS first_ship,
      CAST(max(l_shipdate) AS TIMESTAMP) AS last_ship
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-06-01'
      AND l_shipdate <  TIMESTAMP '1997-09-01'
    """,
)
def q_layout_sorted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned, sorted-within-partition data layout: rewrite
    lineitem clustered by l_shipdate (repartitionByRange + sortWithin
    Partitions), then run a time-range scan over the copy.

    At 100 TB this layout is what makes time-windowed scans cheap: each
    file covers a narrow shipdate range, so parquet row-group min/max
    statistics prune almost everything outside the predicate. The oracle
    asserts the rewrite is content-preserving for the scanned window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    path = _tmpdir("sorted")
    try:
        (
            li.repartitionByRange(8, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .parquet(path)
        )
        back = spark.read.parquet(path).filter(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-09-01").cast("timestamp"))
        )
        return back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("l_quantity").alias("total_qty"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


# --- q_offers_pipeline ------------------------------------------------------
#
# The synthetic-HTML offers pipeline renders part rows into the reference's
# jjit DOM contract, parses them back (pipeline/offers.py), and hash-verifies
# every typed field against an oracle that re-derives it algebraically from
# part. Hardening (round 8, VERDICT task 2): p_name is sanitized with the
# ORACLE'S OWN whitelist expression BEFORE it is embedded in HTML, so the
# rendered document can never contain markup-active characters (& < > ' ")
# — html.parser's entity decoding / tag recovery therefore cannot diverge
# from the oracle's regex-on-raw-string view no matter what characters a
# regenerated p_name carries. clean_position (the parse path's cleaner) is
# idempotent on already-sanitized text, so the composite's output is
# algebraically sanitize(p_name) on both sides. All part payload columns are
# NULL-proofed with mirrored coalesce (a NULL format_string argument would
# otherwise silently DROP the <li> engine-side while the oracle keeps the
# row).
#
# ROUND-9 ROOT CAUSE (the three-round-red salary class, named): the
# divergence sat in the salary-derived columns, the ONLY driver-edge output
# in the whole registry that carried DECIMAL columns (verified by a full
# output-schema scan) — and DECIMAL transport differs between the engines'
# pandas bridges: DuckDB's fetchdf ships DECIMAL(12,2) as float64 (renders
# "950.0") while Spark's toPandas ships object-of-decimal.Decimal (renders
# "950.00"). Values are identical; the EXACT value hash is not. The local
# comparator's float-tolerance path masked it (testing.py), which is why
# every local --plain --exact sweep passed while the driver stayed red.
# Cure: the staging schema keeps DECIMAL(12,2) internally
# (pipeline/offers.py, golden-file tests), but the driver edge ships DOUBLE
# in BOTH dialects — the same edge rule every money key already follows
# (registry.py rules).

# Oracle-side sanitize: IDENTICAL semantics to functions/text.clean_position
# (whitelist [A-Za-z0-9 .,()-], collapse space runs, trim).
_PNAME_SQL = (
    "trim(regexp_replace(regexp_replace(coalesce(p_name, ''),"
    " '[^A-Za-z0-9 .,()-]', '', 'g'), ' {2,}', ' ', 'g'))"
)
# floor(abs(x) + 0.5): the IDENTICAL expression the engine uses to build
# the HTML salary ints (round() is a different function and diverges on FP
# half-boundaries — the r6 driver-fail class; abs keeps the synthetic
# salary non-negative so the reference's sign-less salary regex round-trips
# it under ANY regeneration). CAST AS DOUBLE pins IEEE semantics even if a
# regeneration turns p_retailprice DECIMAL; coalesce(…, 0.0) keeps a NULL
# price from dropping the rendered <li>.
_SALARY_SQL = "floor(abs(coalesce(CAST(p_retailprice AS DOUBLE), 0.0)) + 0.5)"
# Driver-edge salary columns: the DECIMAL(12,2) staging cast stays (the
# reference's staging contract), but the edge ships DOUBLE — see the
# ROUND-9 ROOT CAUSE note above. The shared fragment parses the RENDERED
# integer string exactly like the engine does (parity by shared expression,
# the r7 lesson), rather than TRY_CASTing the floor double directly.
_MIN_EDGE_SQL = (
    f"CAST(TRY_CAST(CAST(CAST({_SALARY_SQL} AS BIGINT) AS VARCHAR)"
    " AS DECIMAL(12,2)) AS DOUBLE)"
)
_MAX_EDGE_SQL = (
    f"CAST(TRY_CAST(CAST(CAST({_SALARY_SQL} + 100 AS BIGINT) AS VARCHAR)"
    " AS DECIMAL(12,2)) AS DOUBLE)"
)


def _offers_pname() -> F.Column:
    """Engine-side p_name sanitize: clean_position over coalesce — the same
    whitelist/collapse/trim algebra as _PNAME_SQL, applied BEFORE embedding
    so the HTML is markup-inert by construction."""
    from e2e_etl_pipeline_spark.functions.text import clean_position

    return clean_position(F.coalesce(F.col("p_name"), F.lit("")))


def _offers_salary() -> F.Column:
    return F.floor(
        F.abs(F.coalesce(F.col("p_retailprice").cast("double"), F.lit(0.0)))
        + F.lit(0.5)
    ).cast("long")


def _offers_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → synthetic jjit HTML documents (doc_id, site, html), one
    rendered <li> per part row (the reference's jjit DOM contract,
    DataTransform/transform_data.py:91-107)."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 100)
    li = F.format_string(
        '<li data-index="%d"><h3>%s</h3><h6><span>%d</span><span>%d</span>'
        "<span>PLN/month</span></h6></li>",
        F.col("p_partkey"),
        _offers_pname(),
        _offers_salary(),
        _offers_salary() + F.lit(100),
    )
    jjit_html = F.concat(
        F.lit("<ul>"), F.concat_ws("", F.collect_list(li)), F.lit("</ul>")
    )
    return (
        p.groupBy((F.col("p_partkey") % 4).alias("doc_id"))
        .agg(jjit_html.alias("html"))
        .select("doc_id", F.lit("jjit").alias("site"), "html")
    )


@register(
    "q_offers_pipeline",
    oracle=f"""
    SELECT
      CAST(p_partkey % 4 AS BIGINT) AS doc_id,
      'jjit'                        AS site,
      CAST(p_partkey AS INTEGER)    AS offer_idx,
      {_PNAME_SQL}                  AS position,
      ''                            AS company_name,
      {_MIN_EDGE_SQL}               AS minimum,
      {_MAX_EDGE_SQL}               AS maximum,
      'PLN'                         AS currency,
      'month'                       AS pay_period
    FROM part WHERE p_partkey < 100
    """,
)
def q_offers_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full transform stage end-to-end: synthetic HTML docs
    (both site DOM contracts, built deterministically from the part table) →
    mapInArrow DOM parse → codegen'd clean + salary parse → typed offers.
    Golden-file correctness lives in tests/test_pipeline.py.

    Every parsed field is an algebraic function of the part row that built
    its HTML (offer_idx is the data-index attribute = p_partkey, salaries
    are the formatted floor(abs(price)+0.5) ints, the en-dash span join
    pins currency/period) — so the oracle re-derives the typed offers
    directly from part and hash-verifies the whole DOM-walk + clean +
    salary-parse path end-to-end. p_name is sanitized before embedding
    (see block comment above) making the parse content-proof. The salary
    columns ship as DOUBLE at this driver edge (ROUND-9 ROOT CAUSE note);
    the DECIMAL(12,2) staging contract itself is exercised by
    pipeline/offers.py + tests/test_pipeline.py golden files."""
    return (
        parse_offers(_offers_docs(spark, sf_dir))
        .select(
            "doc_id",
            "site",
            "offer_idx",
            "position",
            "company_name",
            F.col("minimum").cast("double").alias("minimum"),
            F.col("maximum").cast("double").alias("maximum"),
            "currency",
            "pay_period",
        )
        .orderBy("doc_id", "offer_idx")
    )


@register(
    "q_orc_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS total
    FROM orders
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read-back (the second columnar format a warehouse
    ingests besides parquet; Spark's ORC source has the same
    predicate-pushdown/column-pruning surface). The oracle asserts the
    round-trip is lossless against the source table."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _tmpdir("orc")
    try:
        o.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        return back.select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("total"),
        ).localCheckpoint()  # materialize before the temp dir is removed
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_schema_evolution",
    oracle="""
    SELECT
      count(*)                                               AS n_rows,
      CAST(sum(CASE WHEN (o_orderkey % 2 = 0 OR o_orderkey IS NULL)
                     AND o_totalprice IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT)            AS n_with_price,
      CAST(sum(CASE WHEN o_orderkey % 2 = 1
                     AND o_orderpriority IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT)            AS n_with_priority
    FROM orders
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early batch wrote
    (key, price), a later batch added a column and dropped another
    (key, priority). mergeSchema=true reconciles the union schema at read
    time, null-filling the missing columns per file — the append-only
    data-lake pattern that lets a 100 TB corpus evolve without rewriting
    history. The oracle restates the expected null pattern from the
    deterministic key split: NULL keys route to batch 1 (NULL % 2
    satisfies neither parity filter, so without the isNull branch those
    rows would be written to NEITHER batch and vanish from n_rows), and
    the per-batch counts condition on the carried column being non-NULL
    exactly like the engine's count(col)."""
    o = load_table(spark, sf_dir, "orders")
    path = _tmpdir("evolve")
    try:
        o.where(
            (F.col("o_orderkey") % 2 == 0) | F.col("o_orderkey").isNull()
        ).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(f"{path}/batch=1")
        o.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_orderpriority"
        ).write.mode("overwrite").parquet(f"{path}/batch=2")
        back = spark.read.option("mergeSchema", True).parquet(path)
        return back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_totalprice").alias("n_with_price"),
            F.count("o_orderpriority").alias("n_with_priority"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_json_roundtrip",
    oracle="""
    SELECT
      event_id,
      event_type,
      CAST(floor(epoch(ts)) AS BIGINT)  AS ts_epoch,
      round(value, 4)                   AS value
    FROM events
    """,
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema'd source: write events as JSONL, read back
    with an explicit schema, prove the round-trip lossless against the
    parquet original. Completes the source-format matrix (parquet / CSV /
    ORC / text / JSON).

    Timestamps travel as epoch-second longs (floor(epoch), the engine's
    ts→long convention, BASELINE.md notes): JSON has no timestamp type,
    so the column is made explicit rather than trusting ISO-string
    round-tripping across engines/timezones. Scale: format conversion is
    embarrassingly parallel — one task per partition, no shuffle; schema'd
    reads skip inference (an extra full pass at 100 TB).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("ts").cast("double")).cast("bigint").alias("ts_epoch"),
        F.round("value", 4).alias("value"),
    )
    path = _tmpdir("json")
    try:
        ev.write.mode("overwrite").json(path)
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("ts_epoch", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
        back = spark.read.schema(schema).json(path)
        return back.localCheckpoint()  # materialize before the tmp dir goes
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_xml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS total
    FROM orders
    """,
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + schema'd source (Spark 4's built-in XML data source —
    no external package): write orders as ``<order>`` elements, read back
    with an explicit schema, prove the round-trip lossless against the
    parquet original. Completes the format matrix (parquet / CSV / ORC /
    JSON / text / XML) for the feeds that still arrive as XML.

    Doubles travel as shortest-round-trip decimal strings (Java
    ``Double.toString``), so the raw value survives text serialization
    bit-exactly; the final round(2) mirrors q_orc_roundtrip. Scale: like
    the other format conversions this is shuffle-free — one task per
    partition — and the explicit read schema skips the inference pass
    (a full extra scan at 100 TB).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _tmpdir("xml")
    try:
        o.write.mode("overwrite").format("xml").option("rowTag", "order").save(path)
        schema = T.StructType(
            [
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_orderpriority", T.StringType()),
                T.StructField("o_totalprice", T.DoubleType()),
            ]
        )
        back = (
            spark.read.schema(schema).format("xml").option("rowTag", "order").load(path)
        )
        return back.select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("total"),
        ).localCheckpoint()  # materialize before the temp dir is removed
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_metadata_columns",
    oracle="""
    SELECT
      event_type,
      CAST(1 AS BIGINT)              AS n_files,
      count(*)                       AS n_rows,
      CAST(count(*) - 1 AS BIGINT)   AS max_row_index
    FROM events
    GROUP BY event_type
    """,
)
def q_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (``_metadata.file_path`` /
    ``row_index``) — the provenance surface a lakehouse needs for
    row-level lineage, debugging bad files, and building deletion vectors.
    Events are repartitioned by the partition key before a partitioned
    write, so each event_type lands in exactly ONE file; the read-back
    aggregates per-file row counts and the max row index purely from
    metadata columns, which the oracle restates from the source table.

    Scale: _metadata is populated by the scan from the file footer/row
    position — no extra I/O; per-file aggregation shuffles one row per
    (file, type), never the payload.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    path = _tmpdir("meta")
    try:
        ev.repartition("event_type").write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(path)
        # Explicit schema: a fully-empty partitioned write leaves no data
        # files and schema inference would fail (empty-slice robustness).
        back = spark.read.schema(ev.schema).parquet(path).select(
            "event_type",
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("ri"),
        )
        per_file = back.groupBy("event_type", "fp").agg(
            F.count(F.lit(1)).alias("rows_in_file"),
            F.max("ri").alias("max_ri"),
        )
        return (
            per_file.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("rows_in_file").alias("n_rows"),
                F.max("max_ri").alias("max_row_index"),
            )
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_compact_files",
    oracle="""
    SELECT 'fragmented' AS stage,
           CAST(least(64, (SELECT count(*) FROM orders)) AS INTEGER) AS n_files,
           (SELECT count(*) FROM orders) AS n_rows
    UNION ALL
    SELECT 'compacted',
           CAST(least(4, (SELECT count(*) FROM orders)) AS INTEGER),
           (SELECT count(*) FROM orders)
    """,
)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the unglamorous operator every long-lived
    lake needs: streaming/incremental ingest leaves thousands of tiny
    files per partition, and scan throughput dies on open/footer costs
    long before bytes matter. A fragmented copy (64 shards) is rewritten
    to 4 right-sized files; the audit reports file count and row count
    per stage, and the oracle pins both (rows preserved, exact target
    counts — a silent row drop or rogue extra file fails the gate).
    File counts are DATA files — distinct ``_metadata.file_path`` over the
    read-back — because Spark writes one empty schema-only file when a
    write's first partition is empty (seen under the sparse fuzz variant:
    41 rows over 64 round-robin shards → 41 data files + 1 empty). Empty
    shards write nothing, so the pinned counts are least(shards, rows).

    The shard counts are fixed so the result is SF-stable; production
    sizing replaces the constant with ceil(input_bytes / target_bytes)
    (128 MB parquet default) per partition, via a repartition — NOT
    coalesce, which would also narrow the upstream write's parallelism
    and can't split skewed inputs. At 100 TB compaction runs
    per-partition-predicate (only partitions whose small-file count
    crosses a threshold rewrite), which is exactly how OPTIMIZE works in
    table formats."""
    o = load_table(spark, sf_dir, "orders")
    frag_path, comp_path = _tmpdir("frag"), _tmpdir("comp")

    def data_files_and_rows(df: DataFrame) -> tuple[int, int]:
        nf, nr = df.agg(
            F.countDistinct(F.col("_metadata.file_path")).alias("nf"),
            F.count(F.lit(1)).alias("nr"),
        ).first()
        return nf, nr

    try:
        o.repartition(64).write.mode("overwrite").parquet(frag_path)
        frag = spark.read.parquet(frag_path)
        n_frag_files, n_frag_rows = data_files_and_rows(frag)
        frag.repartition(4).write.mode("overwrite").parquet(comp_path)
        comp = spark.read.parquet(comp_path)
        rows = [
            ("fragmented", n_frag_files, n_frag_rows),
            ("compacted", *data_files_and_rows(comp)),
        ]
        from e2e_etl_pipeline_spark.catalog import inline_frame

        return inline_frame(
            spark,
            [dict(zip(["stage", "n_files", "n_rows"], r)) for r in rows],
            ["stage", "n_files", "n_rows"],
        ).select(
            "stage",
            F.col("n_files").cast("int").alias("n_files"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    finally:
        shutil.rmtree(frag_path, ignore_errors=True)
        shutil.rmtree(comp_path, ignore_errors=True)


@register(
    "q_python_datasource",
    oracle="""
    WITH offers AS (
      SELECT CAST(p.range AS INTEGER)            AS page,
             p.range * 100 + i.range             AS offer_id
      FROM range(0, 10) p CROSS JOIN range(0, 100) i
    )
    SELECT page,
           count(*)                              AS n_offers,
           min(offer_id)                         AS first_id,
           max(offer_id)                         AS last_id,
           CAST(sum(offer_id % 20000 + 3000) AS BIGINT) AS sum_salary
    FROM offers GROUP BY page
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paginated-acquisition loop as a custom Spark 4 Python Data
    Source (sources/synthetic_ds.py): one input partition per page,
    fetched executor-parallel — the reference's driver-side browser loop
    (extract_data.py:108-146) turned into a planable source. Content is
    hash-deterministic, so the oracle reproduces it from range() alone;
    the parsed salary reduces per page in exact integer arithmetic."""
    from e2e_etl_pipeline_spark.sources.synthetic_ds import register_source

    register_source(spark)
    offers = (
        spark.read.format("synthetic_offers")
        .option("npages", 10)
        .option("per_page", 100)
        .load()
    )
    return offers.groupBy("page").agg(
        F.count(F.lit(1)).alias("n_offers"),
        F.min("offer_id").alias("first_id"),
        F.max("offer_id").alias("last_id"),
        F.sum(F.col("offer_id") % 20000 + 3000).alias("sum_salary"),
    )


@register(
    "q_observe_metrics",
    oracle="""
    SELECT
      count(*)                                             AS n_rows,
      count(*) FILTER (WHERE l_quantity > 45)              AS n_high_qty,
      CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE)
                                                           AS sum_price
    FROM lineitem
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline QA via the Observation API: row counts,
    predicate counts, and exact DECIMAL sums are collected as side
    metrics of ONE noop-sink pass over the fact table — the pattern that
    replaces a separate validation scan in every production write job
    (observe rides the same WholeStageCodegen pass; a second qa-query
    would double the IO).

    The observed metrics return as a 1-row JVM-side literal frame
    (catalog.inline_frame — no Python-RDD round trip)."""
    from pyspark.sql import Observation

    from e2e_etl_pipeline_spark.catalog import inline_frame

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation(f"qa_{uuid.uuid4().hex[:8]}")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_quantity") > 45, 1)).alias("n_high_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("sum_price"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return inline_frame(
        spark,
        [
            {
                "n_rows": int(m["n_rows"]),
                "n_high_qty": int(m["n_high_qty"]),
                "sum_price": float(m["sum_price"]),
            }
        ],
        ["n_rows", "n_high_qty", "sum_price"],
    )


def _zorder_code(cx, cy):
    """Interleave two 8-bit codes into a 16-bit Morton (Z-order) value:
    bit i of ``cx`` lands at position 2i+1, bit i of ``cy`` at 2i. Pure
    shift/and/or column expressions — JVM codegen, no UDF."""
    z = F.lit(0)
    for i in range(8):
        z = (
            z
            + F.shiftleft(F.shiftright(cx, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(cy, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


@register(
    "q_layout_zorder",
    oracle="""
    SELECT
      count(*)                    AS n_rows,
      CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        AS total_price,
      CAST(min(o_custkey) AS BIGINT) AS min_cust,
      CAST(max(o_custkey) AS BIGINT) AS max_cust
    FROM orders
    WHERE o_custkey BETWEEN 200 AND 700
      AND o_totalprice BETWEEN 20000 AND 120000
    """,
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) multi-dimensional clustering rewrite — the
    Delta/Iceberg ``OPTIMIZE ZORDER BY (o_custkey, o_totalprice)`` analog —
    then a 2-D box scan over the rewritten copy.

    Why this exists at 100 TB: range-sorting clusters ONE dimension
    (q_layout_sorted_write) — a predicate on any other column still reads
    every file. Interleaving the bits of per-column quantized codes makes
    file/row-group min-max stats selective in BOTH dimensions at once: a
    contiguous z-range is (within one curve split) a spatial quadrant, so a
    box predicate prunes to O(perimeter) files instead of all of them.

    Scale shape: one 4-scalar min/max aggregate (broadcast to the map side
    as literals — the only driver round-trip), then a pure-expression
    16-bit Morton code, ``repartitionByRange`` on the code (sampled range
    exchange, skew-proof), sort-within-partition, write. No global window,
    no ntile — codes are value-quantized, so the job is two scans at any
    corpus size. The oracle asserts the rewrite is content-preserving for
    the scanned box (layout never changes content); the disjoint-z-range
    pruning guarantee itself is asserted in tests/test_pipeline.py.
    """
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).first()
    if b[0] is None or b[2] is None:
        # Empty (or all-NULL-key) source: nothing to cluster — aggregate
        # the box scan over the source directly, which degrades to the
        # oracle's (0, NULL, NULL, NULL) row (empty-fuzz rule: the
        # quantizer's float(None) must never be reached).
        return o.filter(
            F.col("o_custkey").between(200, 700)
            & F.col("o_totalprice").between(20000, 120000)
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("total_price"),
            F.min("o_custkey").cast("bigint").alias("min_cust"),
            F.max("o_custkey").cast("bigint").alias("max_cust"),
        )
    mnx, mxx, mny, mxy = float(b[0]), float(b[1]), float(b[2]), float(b[3])
    cx = F.least(
        F.lit(255),
        F.floor((F.col("o_custkey") - mnx) * 256.0 / (mxx - mnx + 1.0)),
    ).cast("int")
    cy = F.least(
        F.lit(255),
        F.floor(
            (F.col("o_totalprice") - mny) * 256.0 / ((mxy - mny) * 1.000001 + 1.0)
        ),
    ).cast("int")
    path = _tmpdir("zorder")
    try:
        (
            o.withColumn("z", _zorder_code(cx, cy))
            .repartitionByRange(8, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(path)
        )
        back = spark.read.parquet(path).filter(
            F.col("o_custkey").between(200, 700)
            & F.col("o_totalprice").between(20000, 120000)
        )
        return back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("o_totalprice").alias("total_price"),
            F.min("o_custkey").cast("bigint").alias("min_cust"),
            F.max("o_custkey").cast("bigint").alias("max_cust"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_targeted_delete",
    oracle="""
    SELECT
      count(*)                         AS n_rows,
      CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                                       AS total_value,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id IS NULL OR user_id NOT IN (1, 2, 3)
    """,
)
def q_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style targeted row deletion: purge three user_ids from a
    user-clustered copy of events by rewriting ONLY the files whose
    min/max statistics can contain them, leaving every other file
    untouched — the Delta/Iceberg DELETE + data-skipping shape.

    Why this matters at 100 TB: a right-to-be-forgotten request touches a
    handful of keys; rewriting the whole table is a full-corpus job, while
    stats-pruned rewrite is O(affected files). Clustering by user_id first
    (repartitionByRange) is what makes the blast radius small — victims
    land in one or two contiguous range files. Soundness does not depend
    on the stats being tight: a file whose [min,max] excludes every victim
    provably cannot hold their rows, so skipping it is always correct.

    The per-file stats scan here reads the user_id column only (column
    pruning); the untouched file set is passed to the final union by PATH,
    never re-materialized. The oracle asserts the post-delete table equals
    a plain anti-filter of the source. File-immutability of the untouched
    set is asserted in tests/test_pipeline.py.

    NULL user_ids are NOT victims: the rewrite keeps them (isNull() |
    ~isin), the oracle keeps them (user_id IS NULL OR ... NOT IN — a bare
    NOT IN would NULL out and drop them, the round-3 anti-join defect
    class), and a file whose user_ids are ALL NULL has no min/max stats
    (lo is None) yet provably contains no victim, so it lands in the
    untouched set instead of crashing the comparison.
    """
    victims = [1, 2, 3]
    ev = load_table(spark, sf_dir, "events")
    path = _tmpdir("tdelete")
    try:
        (
            ev.repartitionByRange(8, "user_id")
            .sortWithinPartitions("user_id")
            .write.mode("overwrite")
            .parquet(path)
        )
        stats = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
            .collect()
        )
        affected = [
            r.f
            for r in stats
            if r.lo is not None and any(r.lo <= v <= r.hi for v in victims)
        ]
        untouched = [r.f for r in stats if r.f not in set(affected)]
        parts = []
        if affected:
            parts.append(
                spark.read.parquet(*affected).where(
                    F.col("user_id").isNull()
                    | ~F.col("user_id").isin(victims)
                )
            )
        if untouched:
            parts.append(spark.read.parquet(*untouched))
        # Empty source: the write leaves one schema-only file and zero
        # stats rows — read it back so the aggregate degrades to
        # (0, NULL, 0) exactly like the oracle over an empty table.
        final = parts[0] if parts else spark.read.parquet(path)
        for p in parts[1:]:
            final = final.unionByName(p)
        return final.agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_join_dpp",
    oracle="""
    SELECT
      event_type,
      count(*)             AS n_events,
      CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
        AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): a fact table Hive-partitioned on
    event_type joined to a small filtered dimension — Catalyst injects the
    dimension's surviving keys as a runtime partition filter, so the fact
    scan READS only the matching partition directories instead of scanning
    all of them and filtering later.

    This is the partition-side twin of runtime bloom filters (row-level,
    plan-asserted elsewhere): at 100 TB a date- or type-partitioned fact
    joined to a filtered dim is the single most common warehouse shape,
    and DPP is what turns "scan 100 TB then drop 95%" into "list 5% of
    directories". DPP requires a SELECTIVE dim (Catalyst only injects the
    pruning subquery when the dim side carries a filter), hence the
    filtered five-type dimension here. The dim is broadcast; the injected
    ``dynamicpruning`` subquery reuses that broadcast. Plan shape is
    machine-asserted in tests/test_plans.py; the oracle asserts the join
    result equals a plain predicate on the source — partition layout and
    pruning never change content.
    """
    ev = load_table(spark, sf_dir, "events")
    path = _tmpdir("dpp")
    try:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
        # Explicit schema: empty-slice robustness, as in q_metadata_columns.
        fact = spark.read.schema(ev.schema).parquet(path)
        dim = spark.createDataFrame(
            [(t,) for t in ("click", "purchase", "view", "signup", "error")],
            "event_type string",
        ).where(F.col("event_type").isin("click", "purchase"))
        joined = fact.join(F.broadcast(dim), "event_type")
        return joined.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_sql_ddl",
    oracle="""
    SELECT o_orderpriority,
           count(*)                                  AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_sql_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-first workflow end-to-end: CREATE TEMPORARY VIEW over the
    source, CTAS (CREATE TABLE ... USING PARQUET LOCATION ... AS SELECT)
    into a managed location, then a plain SQL aggregate over the created
    table — the catalog surface (DDL + table-as-query-result) an analyst
    uses instead of the DataFrame API. The table name is session-unique
    and dropped afterwards, so repeated runs never collide.

    Scale: CTAS is a distributed write like any other (no driver
    materialization); the follow-up aggregate reads the table's parquet
    with full pushdown, exactly as if it had been written by a pipeline."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_src")
    tbl = f"ddl_{uuid.uuid4().hex[:8]}"
    path = _tmpdir("ddl")
    try:
        spark.sql(
            f"""
            CREATE TABLE {tbl} USING PARQUET LOCATION '{path}' AS
            SELECT o_orderkey, o_orderpriority,
                   CAST(o_totalprice AS DECIMAL(14,2)) AS price
            FROM orders_src WHERE o_orderstatus = 'F'
            """
        )
        return spark.sql(
            f"""
            SELECT o_orderpriority,
                   count(*)                              AS n_orders,
                   CAST(round(sum(price), 2) AS DOUBLE)  AS total
            FROM {tbl} GROUP BY o_orderpriority
            """
        ).localCheckpoint()  # materialize before DROP + dir removal
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_cache_reuse",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             count(*) AS n_orders,
             sum(CAST(o_totalprice AS DECIMAL(14,2))) AS spend
      FROM orders GROUP BY o_custkey
    ),
    overall AS (
      SELECT CAST(sum(spend) AS DOUBLE) / count(*) AS avg_spend
      FROM per_cust
    )
    SELECT p.o_custkey,
           p.n_orders,
           CAST(round(p.spend, 2) AS DOUBLE)                    AS spend,
           -- nullif: signed totals can cancel avg_spend to exactly 0
           -- (values-fuzz class); ANSI Spark raises on double /0
           floor(CAST(p.spend AS DOUBLE) / nullif(o.avg_spend, 0.0)
                 * 10000.0 + 0.5) / 10000.0                     AS vs_avg
    FROM per_cust p CROSS JOIN overall o
    WHERE CAST(p.spend AS DOUBLE) > 2 * o.avg_spend
    """,
)
def q_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cache reuse: one expensive per-customer aggregate is
    ``cache()``d and consumed by TWO downstream branches (a global
    average and a per-row comparison against it) — the shared-CTE
    pattern where recomputing the base would double the scan+shuffle.
    tests/test_plans.py asserts the second consumer reads
    InMemoryTableScan, not the parquet again.

    Scale: the cached frame is |customers| rows of three narrow columns
    (the reduction runs BEFORE the cache, so the raw fact table is never
    pinned); division happens on identical doubles derived from exact
    DECIMAL sums in both engines, and the 2× filter keeps the output a
    short, deterministic set."""
    out, base = cache_reuse_frames(spark, sf_dir)
    try:
        return out.localCheckpoint()  # materialize while the cache is live
    finally:
        base.unpersist()


def cache_reuse_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The un-checkpointed q_cache_reuse plan plus its cached base (the
    plan test asserts InMemoryTableScan on the second consumer; callers
    must unpersist the base)."""
    o = load_table(spark, sf_dir, "orders")
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("spend"),
        )
        .cache()
    )
    overall = base.agg(
        (F.sum("spend").cast("double") / F.count(F.lit(1))).alias("avg_spend")
    )
    spend_d = F.col("spend").cast("double")
    out = (
        base.crossJoin(F.broadcast(overall))
        .where(spend_d > 2 * F.col("avg_spend"))
        .select(
            "o_custkey",
            "n_orders",
            F.round("spend", 2).cast("double").alias("spend"),
            # try_divide: a signed-total cancellation to exactly 0 must
            # yield NULL, not an ANSI DIVIDE_BY_ZERO (oracle: nullif).
            stable_round(F.try_divide(spend_d, F.col("avg_spend")), 4).alias(
                "vs_avg"
            ),
        )
    )
    return out, base


@register(
    "q_medallion",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           count(*)             AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
    FROM (SELECT DISTINCT * FROM events)
    GROUP BY 1, 2
    """,
)
def q_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze→silver→gold in one plan: bronze is the raw feed plus a
    deterministic replay slice (event_id % 10 == 0 re-appended — the
    at-least-once delivery duplicates every ingest layer must absorb),
    silver removes exact-duplicate rows, gold is the hourly per-type
    rollup. The oracle aggregates DISTINCT source rows directly, so the
    gate proves the dedup layer exactly cancels the replay.

    Scale: full-row distinct is correct here because events are narrow
    (6 scalar columns); for wide payloads dedup on a 128-bit digest of
    the row instead (q_dedup_exact128 pattern) so bodies never shuffle.
    Replay-union then distinct is one exchange on all columns; gold
    re-aggregates with map-side partials on the hour/type keys."""
    ev = load_table(spark, sf_dir, "events")
    replay = ev.filter(F.col("event_id") % 10 == 0)
    bronze = ev.unionByName(replay)
    silver = bronze.distinct()
    return silver.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum("value").alias("sum_value"),
    )


def wap_publish(spark: SparkSession, df: DataFrame, root: str, key_col: str) -> DataFrame:
    """Stage ``df`` under ``root/_stage``, audit it (row count matches the
    input, ``key_col`` has no NULLs), then atomically rename to
    ``root/live`` and return a reader over the published path. Raises
    ValueError on audit failure, leaving nothing at the live path."""
    expected = df.count()
    stage, live = os.path.join(root, "_stage"), os.path.join(root, "live")
    df.write.mode("overwrite").parquet(stage)
    staged = spark.read.parquet(stage)
    audit = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col(key_col).isNull(), 1)).alias("null_keys"),
    ).collect()[0]
    if audit.n != expected or audit.null_keys != 0:
        raise ValueError(
            f"WAP audit failed: staged n={audit.n} expected={expected}, "
            f"null_keys={audit.null_keys} — not publishing"
        )
    os.rename(stage, live)  # atomic publish
    return spark.read.parquet(live)


@register(
    "q_write_audit_publish",
    oracle="""
    SELECT o_orderpriority,
           count(*)                                     AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
                                                        AS total_value
    FROM orders
    WHERE o_totalprice > 0
    GROUP BY o_orderpriority
    """,
)
def q_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (the Iceberg/Netflix WAP pattern): the curated
    slice is staged to a non-live path, AUDITED against its invariants
    (row count equals the source predicate's count; key column has no
    NULLs), and only then atomically renamed into the live location —
    consumers can never observe a half-written or invalid table. A failed
    audit raises and leaves the live path untouched. The returned rollup
    reads the PUBLISHED files, so the oracle verifies the whole
    stage→audit→publish→consume loop.

    Scale: rename-based publish is O(1) metadata on any real filesystem /
    object-store table format; audits are aggregates over the staged
    files only."""
    o = load_table(spark, sf_dir, "orders")
    curated = o.filter(F.col("o_totalprice") > 0)
    root = _tmpdir("wap")
    try:
        published = wap_publish(spark, curated, root, key_col="o_orderkey")
        return (
            published.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2
                )
                .cast("double")
                .alias("total_value"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Fixed adversarial CSV lines for q_csv_malformed: every id parses (unique
# total order for the driver hash); corruption lives in the other fields.
_MALFORMED_CSV_LINES = [
    "1,alice,10.5",        # clean
    "2,bob,oops",          # unparseable amount
    "3,carol",             # short row (missing column)
    "4,dave,1.0,extra",    # long row (extra column)
    '5,"e,e",2.5',         # quoted delimiter — clean
    "6,,3.5",              # empty field → NULL, NOT corrupt
    "7,g g,4.25",          # clean
]


@register(
    "q_csv_malformed",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'alice', 10.5,              false, true),
      (2, 'bob',   CAST(NULL AS DOUBLE), true,  false),
      (3, 'carol', CAST(NULL AS DOUBLE), true,  false),
      (4, 'dave',  1.0,               true,  false),
      (5, 'e,e',   2.5,               false, true),
      (6, CAST(NULL AS VARCHAR), 3.5, false, true),
      (7, 'g g',   4.25,              false, true)
    ) AS t(id, name, amount, is_corrupt, kept_dropmalformed)
    """,
)
def q_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-CSV ingest contract (the CSV twin of q_json_malformed):
    seven fixed adversarial lines read back under PERMISSIVE with a
    corrupt-record column, joined against a DROPMALFORMED read of the
    same file. Pins the exact univocity semantics the warehouse relies
    on: an unparseable typed field, a SHORT row, and a LONG row are all
    corrupt (raw line lands in the corrupt column, salvageable fields
    still parse — '4,dave,1.0,extra' keeps amount=1.0); an EMPTY field
    is NULL, not corrupt; quoted delimiters are clean.

    The DROPMALFORMED side deliberately routes through a JOIN, because
    the naive ``df.count()`` on a DROPMALFORMED read returns the RAW
    line count (7, not 4): count() prunes every column, and with no
    column parsed nothing is ever detected as malformed — verified live,
    round 7. The semi-join forces full-row parsing, so the kept flags
    here are the materialized truth. tests/test_pipeline.py asserts the
    footgun itself (naive count 7 vs materialized 4)."""
    path = _tmpdir("badcsv")
    try:
        with open(os.path.join(path, "x.csv"), "w", encoding="utf-8") as f:
            f.write("\n".join(_MALFORMED_CSV_LINES) + "\n")
        schema = T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField("name", T.StringType()),
                T.StructField("amount", T.DoubleType()),
                T.StructField("_corrupt", T.StringType()),
            ]
        )
        permissive = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path)
        )
        # localCheckpoint BEFORE the id projection: column pruning would
        # otherwise push a select("id") into the scan, no typed column
        # would ever fail to parse, and DROPMALFORMED would drop NOTHING —
        # the same pruning footgun as the naive count() (it bit this very
        # implementation on first run).
        dropped = (
            spark.read.schema(T.StructType(schema.fields[:3]))
            .option("mode", "DROPMALFORMED")
            .csv(path)
            .localCheckpoint()
            .select("id")
        )
        return (
            permissive.join(dropped.withColumn("_kept", F.lit(True)), "id", "left")
            .select(
                "id",
                "name",
                "amount",
                F.col("_corrupt").isNotNull().alias("is_corrupt"),
                F.coalesce(F.col("_kept"), F.lit(False)).alias(
                    "kept_dropmalformed"
                ),
            )
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "q_binary_file_source",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS length,
           text AS text_back
    FROM documents
    WHERE doc_id < 20 AND octet_length(encode(coalesce(text, ''))) > 0
    """,
)
def q_binary_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binaryFile source — the real multimodal ingest path (one opaque
    file per asset → (path, modificationTime, length, content) rows, the
    shape every image/audio corpus arrives in). Twenty documents are
    staged as .bin files plus a decoy the pathGlobFilter must exclude;
    the read-back re-derives doc_id from the filename and decodes the
    payload, and the oracle asserts byte length AND full content
    fidelity against the source table (UTF-8 encode/decode is an exact
    round-trip, so no non-portable content hash is needed).

    The 20-row driver collect is file-FIXTURE construction (same
    metadata-scale pattern as q_text_source); the read side is the
    production path and scales to millions of files — binaryFile splits
    per file, pathGlobFilter prunes at listing time, and
    spark.sql.files.maxPartitionBytes packs small files per task."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 20)
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )
    path = _tmpdir("binsrc")
    try:
        for r in d.collect():  # ≤20 rows: fixture staging, not a data path
            payload = r.text.encode("utf-8")
            if not payload:
                # Spark's file listing SKIPS zero-byte files (found live:
                # the nulls fuzz variant NULLed one doc's text and the
                # read-back came up a row short) — pin the contract
                # explicitly: a binary corpus contains only non-empty
                # assets, mirrored by the oracle's octet_length > 0.
                continue
            with open(os.path.join(path, f"doc_{r.doc_id}.bin"), "wb") as f:
                f.write(payload)
        with open(os.path.join(path, "decoy.txt"), "w") as f:
            f.write("must be excluded by pathGlobFilter")
        back = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(path)
        )
        return back.select(
            F.regexp_extract("path", r"doc_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            "length",
            F.col("content").cast("string").alias("text_back"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)
