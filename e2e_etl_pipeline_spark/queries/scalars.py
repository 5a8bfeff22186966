"""B.7 — scalar function families, including the reference's signature
salary-parse computation as pure column expressions (SURVEY.md §7 Phase 1).

Dialect notes baked into the oracles (SURVEY.md §7 watch list #5):
  * DuckDB regexp_replace needs the 'g' flag to replace all; Spark's always
    does.
  * DuckDB lists are 1-based and out-of-range access yields NULL — matching
    Spark's try_element_at.
  * Integer-returning date parts are cast to INTEGER in both dialects so the
    schemas agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import inline_frame, load_table
from e2e_etl_pipeline_spark.functions import salary as sal
from e2e_etl_pipeline_spark.functions import text as tx
from e2e_etl_pipeline_spark.functions import textstats as ts
from e2e_etl_pipeline_spark.registry import register

# Literal salary strings exercising every branch of the reference's parser:
# en-dash ranges, NBSP separators (\xa0), comma decimals, single values,
# every currency and period token, missing salary (transform_data.py:131-134
# docstring examples plus the FIXTURES.md edge-case list).
SALARY_SAMPLES = [
    "11 000 – 12 000 zł brutto / mies.",
    "8 000 zł brutto / mies.",
    "31,25 zł / godz.",
    "120 000 PLN / rok",
    "5 000–7 500 EUR / mies.",
    "95 zł / h",
    "Salary not provided",
    "",
    "25\xa0000 USD / tydzień",
    "1 200 CHF / dzień",
    "4 500 gbp / mies.",
    "13 500 zł brutto",
]


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def salary_oracle_sql(samples: list[str]) -> str:
    """The DuckDB oracle of the salary parse over the literal ``samples``."""
    values = ",\n      ".join(f"({_sql_quote(s)})" for s in samples)
    return f"""
    WITH raw(salary_text) AS (VALUES
      {values}
    ),
    parsed AS (
      SELECT
        salary_text,
        list_transform(
          regexp_extract_all(replace(salary_text, chr(160), ' '),
                             '{sal.NUMBER_PATTERN}'),
          m -> CAST(replace(regexp_replace(m, '{ts.WS_RUN}', '', 'g'), ',', '.') AS DOUBLE)
        ) AS nums,
        nullif(regexp_extract(replace(salary_text, chr(160), ' '),
                              '{sal.CURRENCY_PATTERN}', 1), '') AS cur_raw,
        nullif(regexp_extract(replace(salary_text, chr(160), ' '),
                              '{sal.PERIOD_PATTERN}', 1), '') AS period_raw
      FROM raw
    )
    SELECT
      salary_text,
      CASE WHEN len(nums) >= 1 THEN nums[1] END                    AS minimum,
      CASE WHEN len(nums) >= 2 THEN nums[2]
           WHEN len(nums) = 1 THEN nums[1] END                     AS maximum,
      CASE WHEN cur_raw IS NULL THEN NULL
           WHEN lower(cur_raw) = 'zł' THEN 'PLN'
           ELSE cur_raw END                                        AS currency,
      CASE period_raw WHEN 'mies.' THEN 'month'
                      WHEN 'godz.' THEN 'h'
                      ELSE period_raw END                          AS pay_period
    FROM parsed
    """


@register("q_salary_parse", oracle=salary_oracle_sql(SALARY_SAMPLES))
def q_salary_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15-A21 end-to-end as one codegen'd expression tree (no UDFs)."""
    df = inline_frame(spark, [{"salary_text": s} for s in SALARY_SAMPLES], ["salary_text"])
    # select the parse struct ONCE and expand fields from it: embedding the
    # parse tree per output field quadrupled the analyzed/codegen'd
    # expression (round-11 measurement: first-exec codegen 6.4 s vs 0.7 s,
    # and construction-time analysis ~3× slower).
    return df.select("salary_text", sal.parse_salary("salary_text").alias("_p")).select(
        "salary_text",
        F.col("_p.minimum").alias("minimum"),
        F.col("_p.maximum").alias("maximum"),
        F.col("_p.currency").alias("currency"),
        F.col("_p.pay_period").alias("pay_period"),
    )


_MESSY_STRINGS = [
    "  Junior\xa0Python   Developer (Kraków) ",
    "Señor  Data\tEngineer — ML/AI",
    "\xa0\xa0Staff SRE,  on-call\xa0",
    "plain text",
    "",
]
_MESSY_VALUES = ",\n      ".join(f"({_sql_quote(s)})" for s in _MESSY_STRINGS)


@register(
    "q_str_clean",
    oracle=f"""
    WITH raw(s) AS (VALUES
      {_MESSY_VALUES}
    )
    SELECT
      s,
      trim(regexp_replace(replace(s, chr(160), ' '), '\\s+', ' ', 'g'))  AS cleaned,
      trim(regexp_replace(
             regexp_replace(s, '[^A-Za-z0-9 .,()\\-]', '', 'g'),
             ' {{2,}}', ' ', 'g'))                                       AS position_clean,
      length(s)                                                          AS n_chars,
      upper(trim(regexp_replace(replace(s, chr(160), ' '), '\\s+', ' ', 'g'))) AS cleaned_upper
    FROM raw
    """,
)
def q_str_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/A14/A17: the reference's text normalizers over adversarial
    literals (NBSP, tabs, non-ASCII, em-dash)."""
    df = inline_frame(spark, [{"s": s} for s in _MESSY_STRINGS], ["s"])
    return df.select(
        "s",
        tx.clean_text("s").alias("cleaned"),
        tx.clean_position("s").alias("position_clean"),
        F.length("s").alias("n_chars"),
        F.upper(tx.clean_text("s")).alias("cleaned_upper"),
    )


@register(
    "q_regex_extract",
    oracle="""
    SELECT
      c_custkey,
      TRY_CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT)
                                                                   AS name_num,
      regexp_extract(c_name, '(\\d+)$', 1)                         AS trailing_digits
    FROM customer
    """,
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18-A22: regexp_extract with capture groups (same signature in both
    engines). try_cast: a non-matching c_name yields '' and CAST('' AS
    BIGINT) is a hard error in BOTH dialects — one differently-formatted
    row must degrade to NULL, not crash the key (round-4 review)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"Customer#(\d+)", 1)
        .try_cast("bigint")
        .alias("name_num"),
        F.regexp_extract("c_name", r"(\d+)$", 1).alias("trailing_digits"),
    )


@register(
    "q_split_part",
    oracle="""
    SELECT
      p_partkey,
      split_part(p_name, ' ', 1) AS name_adj,
      split_part(p_name, ' ', 2) AS name_noun,
      split_part(p_name, ' ', 3) AS name_missing
    FROM part
    """,
)
def q_split_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: split with out-of-range fallback to '' (the reference's
    `"PLN/month".split('/')` with-default idiom, transform_data.py:62-70)."""
    p = load_table(spark, sf_dir, "part")
    parts = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.coalesce(F.try_element_at(parts, F.lit(1)), F.lit("")).alias("name_adj"),
        F.coalesce(F.try_element_at(parts, F.lit(2)), F.lit("")).alias("name_noun"),
        F.coalesce(F.try_element_at(parts, F.lit(3)), F.lit("")).alias("name_missing"),
    )


@register(
    "q_concat",
    oracle="""
    SELECT
      s_suppkey,
      concat_ws('|', s_name, CAST(s_nationkey AS VARCHAR)) AS name_nation,
      'supp=' || s_name                                    AS tagged,
      lpad(CAST(s_suppkey AS VARCHAR), 8, '0')             AS padded_key
    FROM supplier
    """,
)
def q_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A28: concat/format — URL-builder-style string assembly.
    The oracle uses || (NULL-propagating, like Spark's concat) rather
    than DuckDB's concat(), which SKIPS NULL arguments — one NULL s_name
    would otherwise split the engines (round-4 review)."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.concat_ws("|", "s_name", F.col("s_nationkey").cast("string")).alias("name_nation"),
        F.concat(F.lit("supp="), F.col("s_name")).alias("tagged"),
        F.lpad(F.col("s_suppkey").cast("string"), 8, "0").alias("padded_key"),
    )


# A29's abbreviation table (config.py:16-23 REGION_ABBREVIATIONS shape):
# partial map + substring-truncation fallback (config.py:49-52).
_REGION_ABBR = {"EUROPE": "eu", "ASIA": "apac", "AMERICA": "amer"}


@register(
    "q_map_lookup",
    oracle="""
    SELECT
      r_regionkey,
      r_name,
      CASE r_name WHEN 'EUROPE' THEN 'eu'
                  WHEN 'ASIA' THEN 'apac'
                  WHEN 'AMERICA' THEN 'amer'
                  ELSE lower(substr(r_name, 1, 3)) END AS abbr
    FROM region
    """,
)
def q_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29 (config.py:47-53): map-literal lookup with `.get(k, default)`
    semantics — try_element_at on a map literal, coalesced to the
    substring-truncation fallback."""
    r = load_table(spark, sf_dir, "region")
    kv = []
    for k, v in _REGION_ABBR.items():
        kv += [F.lit(k), F.lit(v)]
    lookup = F.try_element_at(F.create_map(*kv), F.col("r_name"))
    fallback = F.lower(F.substring("r_name", 1, 3))
    return r.select("r_regionkey", "r_name", F.coalesce(lookup, fallback).alias("abbr"))


@register(
    "q_date_funcs",
    oracle="""
    SELECT
      event_id,
      CAST(year(ts) AS INTEGER)                              AS yr,
      CAST(month(ts) AS INTEGER)                             AS mon,
      CAST(day(ts) AS INTEGER)                               AS dom,
      CAST(dayofweek(ts) + 1 AS INTEGER)                     AS dow,
      CAST(hour(ts) AS INTEGER)                              AS hr,
      CAST(date_trunc('day', ts) AS TIMESTAMP)               AS day_start,
      CAST(CAST(ts AS DATE) AS TIMESTAMP)                    AS event_date,
      CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS days_since_jan1,
      CAST(CAST(ts AS DATE) + 7 AS TIMESTAMP)                AS plus_week,
      CAST(last_day(CAST(ts AS DATE)) AS TIMESTAMP)          AS month_end
    FROM events
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32 generalized: the date/time function family. DuckDB's dayofweek is
    0=Sunday vs Spark's 1=Sunday — reconciled in the oracle. Date-valued
    outputs are cast to TIMESTAMP on BOTH engines: a nullable DATE column
    ships as object/None from Spark but datetime64/NaT from DuckDB once a
    NULL appears, and while the local comparator normalizes that transport
    split, the driver's exact hash may not — TIMESTAMP transports as
    datetime64 on both sides unconditionally (registry hash rule)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.year("ts").cast("int").alias("yr"),
        F.month("ts").cast("int").alias("mon"),
        F.dayofmonth("ts").cast("int").alias("dom"),
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
        F.date_trunc("day", "ts").alias("day_start"),
        F.col("ts").cast("date").cast("timestamp").alias("event_date"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since_jan1"),
        F.date_add(F.col("ts").cast("date"), 7)
        .cast("timestamp")
        .alias("plus_week"),
        F.last_day(F.col("ts").cast("date"))
        .cast("timestamp")
        .alias("month_end"),
    )


@register(
    "q_math_funcs",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      -- money product in DECIMAL before rounding (registry rule): a
      -- fractional quantity (values fuzz, +0.5 leg) puts the double
      -- product off the 2dp grid where engine round() semantics split.
      CAST(round(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2)), 2) AS DOUBLE)
                                              AS gross,
      round(abs(l_discount - 0.05), 4)        AS disc_dev,
      CAST(floor(l_extendedprice) AS BIGINT)  AS price_floor,
      CAST(ceil(l_extendedprice) AS BIGINT)   AS price_ceil,
      l_orderkey % 7                          AS key_mod,
      CASE WHEN l_quantity >= 0
           THEN round(sqrt(l_quantity), 6) END AS qty_sqrt,
      round(pow(l_quantity, 2), 2)            AS qty_sq
    FROM lineitem
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic/rounding/log/sqrt scalar family over lineitem money
    columns (DECIMAL-stabilized where ties matter)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_quantity").cast("decimal(12,2)"),
            2,
        )
        .cast("double")
        .alias("gross"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        # Domain guard pinned on both sides: Spark sqrt(-x) is NaN while
        # DuckDB raises — negative input yields NULL in both engines.
        F.when(
            F.col("l_quantity") >= 0, F.round(F.sqrt("l_quantity"), 6)
        ).alias("qty_sqrt"),
        F.round(F.pow("l_quantity", 2), 2).alias("qty_sq"),
    )


@register(
    "q_array_funcs",
    oracle="""
    SELECT
      vec_id,
      len(embedding)                                   AS dim,
      -- + 0.0 normalizes DuckDB's negative zero: round() of a tiny
      -- negative double keeps the sign bit in DuckDB (C nearbyint) but
      -- not in Spark (BigDecimal has no -0), so a raw -8e-6 coordinate
      -- hashed as -0.0 vs 0.0 (caught by the sf0.1 bit-exact sweep).
      round(CAST(embedding[1] AS DOUBLE), 4) + 0.0     AS first_val,
      round(CAST(list_max(embedding) AS DOUBLE), 4) + 0.0 AS max_val,
      round(CAST(list_min(embedding) AS DOUBLE), 4) + 0.0 AS min_val,
      CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B.7 array family over the embeddings table (TD: array<float> column)."""
    em = load_table(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.try_element_at("embedding", F.lit(1)).cast("double"), 4).alias("first_val"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("max_val"),
        F.round(F.array_min("embedding").cast("double"), 4).alias("min_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_positive"),
    )


@register(
    "q_explode",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
    """,
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/A10 (document→rows flatten) over the documents table: one row per
    word — the UDTF shape (array → explode)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))


@register(
    "q_url_parse",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || regexp_replace(source, '[^A-Za-z0-9-]', '-', 'g')
               || '.example.com/docs/' || doc_id
               || '?lang=' || lang || '&v=2' AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^https?://([^/?#]+)', 1)  AS host,
           regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1)    AS lang_param,
           regexp_extract(regexp_extract(url, '^https?://([^/?#]+)', 1),
                          '([^.]+)$', 1)                  AS tld
    FROM u
    """,
)
def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition — the first step of every web-corpus pipeline
    (domain-level dedup/filtering/licensing). Testdata sources are plain
    labels, so well-formed URLs are constructed from (source, doc_id,
    lang) then parsed back with Spark's parse_url (HOST / PATH / QUERY
    param — JVM built-ins, codegen'd) plus substring_index for the TLD;
    the oracle re-derives each component with plain regexes, so the
    compare proves parse_url's semantics on this URL shape rather than
    assuming them. Scale: stateless column expressions, partition-parallel,
    nothing shuffles."""
    d = load_table(spark, sf_dir, "documents")
    # sanitize the hostname label: parse_url returns NULL for hosts with
    # underscores and raises INVALID_URL on spaces, so a regenerated
    # source value outside [A-Za-z0-9-] would crash or diverge
    host_label = F.regexp_replace(F.col("source"), "[^A-Za-z0-9-]", "-")
    url = F.concat(
        F.lit("https://"), host_label, F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        F.lit("&v=2"),
    )
    host = F.parse_url(url, F.lit("HOST"))
    return d.select(
        "doc_id",
        host.alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.substring_index(host, ".", -1).alias("tld"),
    )


@register(
    "q_explode_outer",
    oracle=f"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter({ts.words_sql("text")},
                         t -> length(t) > 8) AS longtoks
      FROM documents
    )
    SELECT doc_id, unnest(longtoks) AS token FROM arrs WHERE len(longtoks) > 0
    UNION ALL
    SELECT doc_id, NULL AS token FROM arrs
    WHERE len(longtoks) = 0 OR longtoks IS NULL
    """,
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: generator with LEFT-OUTER semantics — documents whose
    long-token array is EMPTY survive as a NULL row instead of vanishing
    (the inner explode of q_explode would drop them, silently losing
    documents from any downstream per-doc accounting). The oracle states
    the same semantics as unnest-over-nonempty UNION ALL the empty set."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(ts.words("text"), lambda t: F.length(t) > 8)
    return d.select("doc_id", F.explode_outer(toks).alias("token"))
