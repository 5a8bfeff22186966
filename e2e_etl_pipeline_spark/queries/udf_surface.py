"""B.10 — UDF / pandas-UDF / applyInPandas surface.

Kept deliberately oracle-checkable: each UDF computes something DuckDB can
also express, so the driver verifies the Python boundary end-to-end (stronger
than the rows-only minimum the survey planned).

Scale reminder (SURVEY.md §4.2): these exist to prove the surface; every
hot-path computation elsewhere in the engine uses built-in expressions. The
pandas variants are Arrow-batched; the row-at-a-time scalar UDF is the slow
path and is confined to the tiny literal salary table.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_etl_pipeline_spark.catalog import inline_frame, load_table
from e2e_etl_pipeline_spark.functions import salary as sal
from e2e_etl_pipeline_spark.functions import textstats as ts
from e2e_etl_pipeline_spark.functions.rounding import stable_round, stable_round_sql
from e2e_etl_pipeline_spark.queries.scalars import SALARY_SAMPLES
from e2e_etl_pipeline_spark.registry import ORACLES, register

_NUM_RE = re.compile(sal.NUMBER_PATTERN)
_WS_RUN_RE = re.compile(ts.WS_RUN)
_CUR_RE = re.compile(sal.CURRENCY_PATTERN)
_PERIOD_RE = re.compile(sal.PERIOD_PATTERN)
_PERIOD_MAP = {"mies.": "month", "godz.": "h"}


def _parse_salary_py(text: str | None) -> tuple[float | None, float | None, str | None, str | None]:
    """Reference-faithful Python salary parse (transform_data.py:144-173) —
    the row-at-a-time twin of functions/salary.parse_salary."""
    s = (text or "").replace("\xa0", " ")
    nums = [float(_WS_RUN_RE.sub("", m).replace(",", ".")) for m in _NUM_RE.findall(s)]
    cur_m = _CUR_RE.search(s)
    currency = None
    if cur_m:
        # matched case preserved — the reference only normalizes zł→PLN
        # (transform_data.py:154-158), it never uppercases.
        raw = cur_m.group(1)
        currency = "PLN" if raw.lower() == "zł" else raw
    period_m = _PERIOD_RE.search(s)
    period = _PERIOD_MAP.get(period_m.group(1), period_m.group(1)) if period_m else None
    if len(nums) >= 2:
        return nums[0], nums[1], currency, period
    if len(nums) == 1:
        return nums[0], nums[0], currency, period
    return None, None, currency, period


@register("q_udf_scalar", oracle=None)  # oracle attached below (shared)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF running the reference's exact parse logic —
    validated against the SAME oracle as the codegen'd q_salary_parse."""
    result_type = T.StructType(
        [
            T.StructField("minimum", T.DoubleType()),
            T.StructField("maximum", T.DoubleType()),
            T.StructField("currency", T.StringType()),
            T.StructField("pay_period", T.StringType()),
        ]
    )
    parse_udf = F.udf(_parse_salary_py, result_type)
    # JVM-side literal frame: createDataFrame(list) scans a pickled Python
    # RDD, which costs a Python-worker round-trip per job (~3-40 s on a
    # local[32] session). inline_frame keeps the fixture in codegen so the
    # only Python boundary is the UDF itself (~0.2 s).
    df = inline_frame(spark, [{"salary_text": s} for s in SALARY_SAMPLES], ["salary_text"])
    parsed = parse_udf("salary_text")
    return df.select(
        "salary_text",
        parsed["minimum"].alias("minimum"),
        parsed["maximum"].alias("maximum"),
        parsed["currency"].alias("currency"),
        parsed["pay_period"].alias("pay_period"),
    )


# q_udf_scalar must agree with the expression-based parser, so it shares
# q_salary_parse's oracle verbatim.
ORACLES["q_udf_scalar"] = ORACLES["q_salary_parse"]


@register(
    "q_pandas_udf",
    oracle="""
    SELECT
      doc_id,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
      CAST(length(text) AS INTEGER)                 AS n_chars
    FROM documents
    """,
)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow-batched) pandas UDF: per-doc token/char counts via
    pandas string ops — the 10-100× faster Python path (SURVEY.md §0)."""

    @F.pandas_udf(T.IntegerType())
    def n_words(texts: pd.Series) -> pd.Series:
        # nullable Int32: a NULL text must surface as NULL, not crash the
        # int cast (plain int32 raises on the NaN a None produces)
        return texts.str.split(" ").str.len().astype("Int32")

    @F.pandas_udf(T.IntegerType())
    def n_chars(texts: pd.Series) -> pd.Series:
        return texts.str.len().astype("Int32")

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", n_words("text").alias("n_words"), n_chars("text").alias("n_chars"))


@register(
    "q_pandas_udaf",
    oracle="""
    SELECT
      l_returnflag,
      round(sum(round(l_extendedprice * 100) * l_quantity)
            / (100 * sum(l_quantity)), 4) AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the Pandas-UDAF surface): a
    quantity-weighted mean computed vectorized per group via Arrow.

    Summation-order-proof formulation: cents×quantity are integer-valued
    doubles whose group sums stay far below 2^53, so numpy's pairwise sum
    and SQL's sequential sum produce the IDENTICAL exact value (a plain
    price*qty float sum differs in low bits between engines and flips 4-dp
    rounding ~8% of the time per group)."""

    @F.pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round()
        return float((cents * qty).sum() / (100.0 * qty.sum()))

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_avg("l_extendedprice", "l_quantity"), 4).alias("weighted_avg_price")
    )


@register(
    "q_agg_approx_percentile",
    oracle=f"""
    SELECT l_returnflag,
           count(*)                                          AS n_rows,
           {stable_round_sql("quantile_cont(l_quantity, 0.5)", 4)} AS exact_median,
           TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: the constant-memory scale path for quantiles that
    q_agg_percentiles computes exactly.

    Upgraded from rows-only (round-6 verdict #8): the sketch guarantees
    rank error <= 1/accuracy (0.001 at accuracy 1000), so each estimated
    quartile MUST lie between the exact p±5-rank percentiles — a 50×
    margin band. The exact median (SQL-reproducible) hash-checks the
    value path; the three booleans hash-check the sketch at p25/p50/p75.
    All-NULL groups degrade to TRUE on both engines (the oracle's
    constant TRUE; here an explicit isNull branch). Distinct grain/column
    from q_approx_percentile_bound (l_returnflag/l_quantity vs
    l_linestatus/l_extendedprice)."""
    li = load_table(spark, sf_dir, "lineitem")

    def ok(p: float) -> F.Column:
        apx = F.approx_percentile("l_quantity", F.lit(p), F.lit(1000))
        lo = F.percentile("l_quantity", F.lit(p - 0.05))
        hi = F.percentile("l_quantity", F.lit(p + 0.05))
        # an all-NULL group yields NULL percentiles; the bound is vacuous
        return F.when(lo.isNull(), F.lit(True)).otherwise(
            (apx >= lo) & (apx <= hi)
        )

    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        stable_round(F.percentile("l_quantity", F.lit(0.5)), 4).alias(
            "exact_median"
        ),
        ok(0.25).alias("ok_p25"),
        ok(0.50).alias("ok_p50"),
        ok(0.75).alias("ok_p75"),
    )


@register(
    "q_approx_percentile_bound",
    oracle="""
    SELECT l_linestatus,
           count(*) AS n_rows,
           TRUE     AS within_band
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q_approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for approx_percentile: the
    sketch guarantees rank error <= 1/accuracy (= 0.001 at accuracy
    1000), so the approximate median MUST lie between the exact p45 and
    p55 — a 50x-margin band that no legitimate input shape can violate.
    The boolean (not the engine-specific sketch value) goes to the
    driver, so a sketch regression fails the exact hash compare.
    Companion rows-only key q_agg_approx_percentile carries the raw
    estimate."""
    li = load_table(spark, sf_dir, "lineitem")
    apx = F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(1000))
    lo = F.percentile("l_extendedprice", F.lit(0.45))
    hi = F.percentile("l_extendedprice", F.lit(0.55))
    return li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        ((apx >= lo) & (apx <= hi)).alias("within_band"),
    )


@register(
    "q_apply_in_pandas",
    oracle="""
    SELECT
      lang,
      count(*)                 AS n_docs,
      round(avg(n_chars), 4)   AS avg_chars,
      CAST(max(n_chars) - min(n_chars) AS BIGINT) AS char_range
    FROM documents
    GROUP BY lang
    """,
)
def q_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: each language group arrives as one pandas
    DataFrame; per-group stats computed with pandas, matching the SQL oracle."""
    schema = T.StructType(
        [
            T.StructField("lang", T.StringType()),
            T.StructField("n_docs", T.LongType()),
            T.StructField("avg_chars", T.DoubleType()),
            T.StructField("char_range", T.LongType()),
        ]
    )

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                # unrounded: Python round() is half-EVEN while SQL round
                # is half-away — a dyadic-tie mean (e.g. x.40625 over a
                # 32-doc group) would split the engines; F.round applies
                # the SQL rule after the UDF (round-4 review).
                "avg_chars": [float(pdf["n_chars"].mean())],
                "char_range": [int(pdf["n_chars"].max() - pdf["n_chars"].min())],
            }
        )

    d = load_table(spark, sf_dir, "documents")
    out = d.groupBy("lang").applyInPandas(stats, schema=schema)
    return out.withColumn("avg_chars", F.round("avg_chars", 4))


@register(
    "q_cogroup",
    oracle="""
    SELECT
      c_custkey,
      count(o_custkey) AS n_orders,
      CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2))),
                    CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS spend
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    WHERE c_nationkey = 0
    GROUP BY c_custkey
    """,
)
def q_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogrouped-pandas surface: ``groupBy(k).cogroup(other.groupBy(k))
    .applyInPandas`` hands BOTH sides' rows for one key to a single Python
    function — the escape hatch for per-key merge logic (custom as-of
    matching, per-entity reconciliation) that no join expresses directly.
    Here the merge computes each customer's order count and exact spend,
    so the DuckDB LEFT JOIN oracle can verify the cogroup machinery
    end-to-end (including empty-right-side groups → zero rows kept).

    Determinism inside the UDF: pandas sums of float64 would depend on
    per-partition row order, so spend accumulates in integer CENTS
    (exact), divided back once — the same value DuckDB's decimal sum
    casts out.

    Scale: cogroup shuffles both sides on the key once (same exchange
    shape as a shuffle join) and streams each key's two Arrow batches to
    one worker; per-key memory is the group's rows. Both sides are scoped
    (one nation; orders semi-joined to its customers) BEFORE the cogroup —
    per-key Python has real overhead, so you narrow the keyset first and
    never cogroup what a plain join answers."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .join(c, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )

    def merge(key, cpdf: "pd.DataFrame", opdf: "pd.DataFrame") -> "pd.DataFrame":
        if cpdf.empty:  # orders whose customer is outside this slice
            return pd.DataFrame(
                {"c_custkey": [], "n_orders": [], "spend": []}
            ).astype({"c_custkey": "int64", "n_orders": "int64", "spend": "float64"})
        # dropna BEFORE the int cast: a NULL o_totalprice arrives as NaN and
        # astype("int64") crashes on it (the canonical pandas-int gotcha) —
        # and SQL sum() skips NULLs anyway, so skipping matches the oracle
        # exactly (n_orders still counts the row; found by the round-7
        # nulls-variant battery, which NULLs order payload columns).
        prices = opdf["o_totalprice"].dropna()
        cents = (
            (prices * 100).round().astype("int64").sum() if len(prices) else 0
        )
        return pd.DataFrame(
            {
                "c_custkey": [key[0]],
                "n_orders": [len(opdf)],
                "spend": [cents / 100.0],
            }
        )

    return (
        c.groupBy("c_custkey")
        .cogroup(o.groupBy("o_custkey"))
        .applyInPandas(merge, "c_custkey long, n_orders long, spend double")
    )


@register(
    "q_map_in_arrow",
    oracle="""
    SELECT
      doc_id,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(length(text)
           - length(regexp_replace(text, '[ \t\n\f\r]', '', 'g')) AS BIGINT)
        AS n_ws
    FROM documents
    """,
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy sibling of mapInPandas — batches arrive
    as ``pyarrow.RecordBatch`` and never materialize a pandas object, so
    string-heavy transforms skip the Arrow→pandas conversion entirely
    (the dominant per-batch cost for wide text columns).

    Per document: code-point count and whitespace-char count, both via
    vectorized ``pyarrow.compute`` kernels (utf8_length /
    count_substring_regex over the engine's pinned ``[ \\t\\n\\f\\r]``
    whitespace class — testing.py parity note). NULL text propagates as
    NULL through both engines. Scale: partition-parallel, shuffle-free;
    Arrow batch size bounds memory per task.
    """
    import pyarrow as pa  # noqa: F401 (typed signature below)
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            text = batch.column(1)
            yield pa.RecordBatch.from_arrays(
                [
                    # cast the PASS-THROUGH column too: mapInArrow does NOT
                    # coerce the yielded batch to the declared schema, so a
                    # physically-int32 doc_id (type-drift regeneration —
                    # the 'physical' fuzz variant) would reach the JVM as
                    # an int32 vector behind a bigint schema and die in the
                    # ArrowColumnVector accessor (getLong on int32).
                    pc.cast(batch.column(0), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(
                        pc.count_substring_regex(text, "[ \t\n\f\r]"), pa.int64()
                    ),
                ],
                names=["doc_id", "n_chars", "n_ws"],
            )

    return docs.mapInArrow(stats, "doc_id long, n_chars long, n_ws long")


@register(
    "q_sql_udf",
    oracle="""
    SELECT
      o_orderkey,
      -- the UDF body inlined: money product in DECIMAL before rounding
      -- (registry rule), identical expression both engines
      CAST(round(CAST(o_totalprice AS DECIMAL(14,2))
                 * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS taxed,
      CASE WHEN o_totalprice >= 150000 THEN 'high'
           WHEN o_totalprice >= 50000  THEN 'mid'
           ELSE 'low' END                                   AS bucket
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 ``CREATE FUNCTION ... RETURNS ... RETURN
    expr``): the declarative counterpart of q_udf_scalar's Python UDF —
    an analyst-defined function with NO Python boundary at all. Two
    scalar SQL UDFs (a taxed-price computation in DECIMAL-before-rounding
    money math, and a CASE bucketing) applied over orders; the oracle
    inlines the same bodies.

    Scale: this is the fastest UDF tier — the function body is inlined
    into the plan at resolution time, so it optimizes and codegens like
    any built-in expression (predicate pushdown through it, no
    serialization boundary). Prefer this over any Python UDF when the
    logic is expressible in SQL."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION with_tax(p DOUBLE)
        RETURNS DOUBLE
        RETURN CAST(round(CAST(p AS DECIMAL(14,2))
                          * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_bucket(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p >= 150000 THEN 'high'
                    WHEN p >= 50000  THEN 'mid'
                    ELSE 'low' END
        """
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sql_udf_orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               with_tax(o_totalprice)     AS taxed,
               price_bucket(o_totalprice) AS bucket
        FROM sql_udf_orders
        WHERE o_orderstatus = 'O'
        """
    )


@register(
    "q_sql_udtf",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             {ts.words_sql("text")}[1:3] AS ws3
      FROM documents
    )
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws3)),
                                 j -> CAST(j - 1 AS INTEGER))) AS idx,
           unnest(ws3)                                         AS word
    FROM base
    """,
)
def q_sql_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language TABLE function (Spark 4 ``CREATE FUNCTION ... RETURNS
    TABLE``) applied per row via LATERAL: the declarative counterpart of
    q_udtf_posexplode's Python UDTF. first_words(text, 3) emits each
    document's first three whitespace tokens with positions; the oracle
    is DuckDB's zipped parallel unnest over the same slice.

    The body tokenizes with textstats.WORD_PATTERN inside a RAW string
    literal (r'...'): a plain Spark SQL literal consumes one level of
    backslash escaping and would silently poison the character class
    (found live while building this key).

    Scale: like q_sql_udf the body inlines at resolution time — the plan
    is a Generate (posexplode) over the scan, no Python boundary, and the
    LATERAL is not a join at all after inlining."""
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION first_words(s STRING, n INT)
        RETURNS TABLE(idx INT, word STRING)
        RETURN SELECT CAST(t.pos AS INT) AS idx, t.col AS word
               FROM (SELECT posexplode(
                              slice(regexp_extract_all(s, r'{ts.WORD_PATTERN}', 0),
                                    1, n)
                            ) AS (pos, col)) t
        """
    )
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "sql_udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, fw.idx, fw.word
        FROM sql_udtf_docs d, LATERAL first_words(d.text, 3) fw
        """
    )
