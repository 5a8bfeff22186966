"""Extended relational surface beyond the SURVEY.md §2 core: statistical
aggregates, exact percentiles, grouping sets, pivot, conditional aggregation,
scalar subqueries, set-style collect, and extra string functions.

These generalize the same reference seeds as B.4/B.7 (global aggregates
A26/A27; string normalizers A13-A17) — the categories a user of a complete
analytics engine expects even though the reference never computes them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions.rounding import stable_round, stable_round_sql
from e2e_etl_pipeline_spark.operators import dedup as dd
from e2e_etl_pipeline_spark.operators.skew import salted_agg, salted_join
from e2e_etl_pipeline_spark.registry import register


@register(
    "q_agg_collect_set",
    oracle="""
    SELECT
      c_mktsegment,
      array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
      count(DISTINCT c_nationkey)                                 AS n_nations
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set collect, numerically sorted then serialized to a CSV
    string: the harness canonicalizer sorts/hashes result cells, so
    oracle-checked queries must emit scalar columns only (registry rule)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("c_nationkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("nations"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


@register(
    "q_agg_stats",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(12,2)))      AS sq,
             sum(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2)))    AS sqq,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp,
             sum(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp,
             sum(CAST(l_discount AS DECIMAL(4,2)))       AS sd,
             sum(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_discount AS DECIMAL(4,2)))     AS sqd
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT
      l_returnflag,
      -- nullif(n(n-1), 0): a 1-row group has no sample variance; ANSI
      -- Spark raises DIVIDE_BY_ZERO even on doubles (try_divide engine-
      -- side), so the undefined statistic is NULL in both dialects.
      round(sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                 / nullif(n * (n - 1.0), 0.0)), 4)      AS qty_stddev,
      round(CAST(n * sqq - sq * sq AS DOUBLE)
            / nullif(n * (n - 1.0), 0.0), 4)            AS qty_var,
      round(CAST(n * sqp - sq * sp AS DOUBLE)
            / nullif(sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                          * CAST(n * spp - sp * sp AS DOUBLE)), 0), 4)
                                                        AS qty_price_corr,
      round(CAST(n * sqd - sq * sd AS DOUBLE)
            / nullif(n * (n - 1.0), 0.0), 6)            AS qty_disc_covar
    FROM s
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (sample stddev/variance, correlation,
    covariance) from exact-DECIMAL sufficient statistics — engine-native
    stddev/corr/covar accumulate doubles in partition order, so a value
    within one ulp of a rounding boundary could flip between engines (the
    q_regression_ols discipline; round-4 review). Variance terms are
    computed IN DECIMAL (exactly >= 0) before the double cast, so sqrt
    never sees a cancelled negative."""
    li = load_table(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(12,2)")
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(4,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dq).alias("sq"),
        F.sum(dq * dq).alias("sqq"),
        F.sum(dp).alias("sp"),
        F.sum(dp * dp).alias("spp"),
        F.sum(dq * dp).alias("sqp"),
        F.sum(dd).alias("sd"),
        F.sum(dq * dd).alias("sqd"),
    )
    n = F.col("n")
    varq = (n * F.col("sqq") - F.col("sq") * F.col("sq")).cast("double")
    varp = (n * F.col("spp") - F.col("sp") * F.col("sp")).cast("double")
    covqp = (n * F.col("sqp") - F.col("sq") * F.col("sp")).cast("double")
    covqd = (n * F.col("sqd") - F.col("sq") * F.col("sd")).cast("double")
    bessel = (n * (n - F.lit(1.0))).cast("double")
    # try_divide: a 1-row group (bessel = 0) has no sample variance — NULL
    # on both engines, never an ANSI DIVIDE_BY_ZERO crash (the
    # q_regression_ols rule; a regenerated corpus with a rare 1-row
    # returnflag value would hit this).
    return s.select(
        "l_returnflag",
        F.round(F.sqrt(F.try_divide(varq, bessel)), 4).alias("qty_stddev"),
        F.round(F.try_divide(varq, bessel), 4).alias("qty_var"),
        F.round(F.try_divide(covqp, F.sqrt(varq * varp)), 4).alias(
            "qty_price_corr"
        ),
        F.round(F.try_divide(covqd, bessel), 6).alias("qty_disc_covar"),
    )


@register(
    "q_agg_percentiles",
    oracle="""
    SELECT
      l_linestatus,
      round(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
      round(quantile_cont(l_extendedprice, 0.9), 4)  AS p90_price,
      round(quantile_cont(l_quantity, 0.25), 4)      AS p25_qty
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`). The scale path for 100 TB is approx_percentile with a
    t-digest accuracy knob; exact is kept here because the oracle needs
    bit-stable output."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25_qty"),
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (complements rollup/cube): per-flag and
    per-status marginals in one pass over the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@register(
    "q_pivot",
    oracle="""
    SELECT
      o_orderpriority,
      count(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
      count(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
      count(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no discovery pass — at scale the
    two-pass inferred pivot is a full extra scan)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("status_F"),
            F.coalesce("O", F.lit(0)).alias("status_O"),
            F.coalesce("P", F.lit(0)).alias("status_P"),
        )
    )


@register(
    "q_agg_conditional",
    oracle="""
    SELECT
      o_orderstatus,
      count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS n_urgent,
      count(*) FILTER (WHERE o_totalprice > 300000)               AS n_large,
      CAST(round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)
           AS DOUBLE)                                             AS urgent_revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-style conditional aggregation as count(when(...)) — one scan,
    many predicated measures (the idiom that replaces N self-joins)."""
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return o.groupBy("o_orderstatus").agg(
        F.count(F.when(urgent, 1)).alias("n_urgent"),
        F.count(F.when(F.col("o_totalprice") > 300000, 1)).alias("n_large"),
        F.round(F.sum(F.when(urgent, F.col("o_totalprice"))), 2)
        .cast("double")
        .alias("urgent_revenue"),
    )


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery as a broadcast of a 1-row aggregate — the fact scan
    streams past it with zero shuffle (vs. a driver collect(), which would
    serialize the plan into two jobs)."""
    o = load_table(spark, sf_dir, "orders")
    avg_price = o.agg(F.avg("o_totalprice").alias("_avg"))
    return (
        o.join(F.broadcast(avg_price))
        .where(F.col("o_totalprice") > 2 * F.col("_avg"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@register(
    "q_str_funcs2",
    oracle="""
    SELECT
      s_suppkey,
      upper(s_name)                                  AS name_upper,
      reverse(s_name)                                AS name_rev,
      CAST(strpos(s_name, '#') AS INTEGER)           AS hash_pos,
      left(s_name, 8)                                AS name_left,
      right(s_name, 2)                               AS name_right,
      repeat('*', CAST(s_nationkey % 4 AS INTEGER))  AS stars,
      replace(s_name, 'Supplier', 'S')               AS name_short
    FROM supplier
    """,
)
def q_str_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function family: case, reverse, find, slice, repeat,
    replace (A13/A14's neighbors in any real workload)."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.upper("s_name").alias("name_upper"),
        F.reverse("s_name").alias("name_rev"),
        F.instr("s_name", "#").cast("int").alias("hash_pos"),
        F.substring("s_name", 1, 8).alias("name_left"),
        F.substring("s_name", -2, 2).alias("name_right"),
        F.repeat(F.lit("*"), (F.col("s_nationkey") % 4).cast("int")).alias("stars"),
        F.replace(F.col("s_name"), F.lit("Supplier"), F.lit("S")).alias("name_short"),
    )


@register(
    "q_agg_salted",
    oracle="""
    SELECT l_returnflag, round(sum(l_quantity), 2) AS total_qty, count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage salted aggregation (operators/skew.py): 3 hot
    keys over 600k+ rows would funnel into 3 reducers; the salt spreads the
    partial aggregate over 16× more. Result is identical to the plain
    groupBy (the oracle), because sum/count are algebraic and l_quantity's
    double sum is exact (integral values)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(li, ["l_returnflag"], {"_qty": F.col("l_quantity")}, n_salts=16)
    return out.select(
        "l_returnflag", F.round("_qty", 2).alias("total_qty"), "n_rows"
    )


@register(
    "q_udtf_posexplode",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
           unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE doc_id < 50
    """,
)
def q_udtf_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (B.10, Spark 3.5+ @udtf): one input doc row → N output
    (pos, word) rows, the table-function shape. Equivalent to posexplode —
    which is exactly why it's oracle-checkable; real use is for parsers that
    built-ins can't express. Confined to 50 docs: a row-at-a-time Python
    UDTF is the slow path by design."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string")
    class SplitWords:
        def eval(self, text: str):
            if text is None:  # match unnest(NULL): no rows
                return
            for i, w in enumerate(text.split(" ")):
                yield i, w

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    d.createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("split_words", SplitWords)
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.word
        FROM _udtf_docs d, LATERAL split_words(d.text) s
        """
    )


@register(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderkey, count(*) AS n_items, round(sum(l.l_quantity), 2) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderkey
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via bucketed tables: both sides bucketed by
    the join key at write time, so the join (and the downstream groupBy on
    the same key) runs with ZERO runtime shuffle — the write-once/join-many
    pattern for recurring 100 TB fact joins. The result must equal the
    plain shuffle join (the oracle)."""
    import os
    import shutil
    from urllib.parse import urlparse

    # A previous session may have left the managed-table locations behind
    # while this session's in-memory catalog has no entry for them — then
    # saveAsTable fails with LOCATION_ALREADY_EXISTS. Drop both sides.
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    for tbl in ("bkt_orders", "bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(warehouse.path or "spark-warehouse", tbl), ignore_errors=True)

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
        "bkt_orders"
    )
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
        "bkt_lineitem"
    )
    bo = spark.table("bkt_orders").where(F.col("o_orderstatus") == "F")
    bl = spark.table("bkt_lineitem")
    return (
        bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@register(
    "q_subquery_in",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery through Spark SQL (Catalyst rewrites to a left-semi
    join; the DataFrame-API twin is q_join_semi)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_sq_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM _sq_customer
        WHERE c_custkey IN (SELECT o_custkey FROM _sq_orders WHERE o_totalprice > 400000)
        """
    )


@register(
    "q_subquery_correlated",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
    FROM orders o
    WHERE o_totalprice > 1.8 * (
      SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders far above their own customer's
    average. Catalyst decorrelates this into an aggregate + join — one scan
    per side, no per-row re-execution (the naive interpretation would be
    O(rows × subquery) and could never run at 100 TB)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders2")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        FROM _sq_orders2 o
        WHERE o_totalprice > 1.8 * (
          SELECT avg(o2.o_totalprice) FROM _sq_orders2 o2 WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "q_map_funcs",
    oracle="""
    SELECT event_id, 'type' AS k, event_type AS v
    FROM events WHERE event_id < 100
    UNION ALL
    SELECT event_id, 'user' AS k, CAST(user_id AS VARCHAR) AS v
    FROM events WHERE event_id < 100
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: build a map<string,string> per row
    (create_map) and explode it back to (key, value) rows — maps never
    reach the output (value-hash comparison over dict cells is
    engine-dependent), but the map construction/explosion path is real."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 100)
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("user"), F.col("user_id").cast("string"),
    )
    return e.select("event_id", F.explode(m).alias("k", "v"))


@register(
    "q_dedup_ngram",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT doc_id AS id,
             unnest(list_transform(range(1, length(text) - 1),
                                   i -> substr(text, CAST(i AS INTEGER), 3))) AS gram
      FROM documents WHERE lang = 'de'
    ),
    sizes AS (SELECT id, count(*) AS set_size FROM grams GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           {stable_round_sql(
               "CAST(n_inter AS DOUBLE) /"
               " (sa.set_size + sb.set_size - n_inter)", 4
           )} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(n_inter AS DOUBLE) /
          (sa.set_size + sb.set_size - n_inter) >= 0.4
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard near-dup (the word-level variant is
    q_dedup_jaccard): the exact set-Jaccard operator
    (operators/dedup.set_jaccard_pairs, no df cutoff — the oracle has
    none) over distinct char-3-gram sets. Its docstring states the corpus
    regime this charset-bounded fixture sits in."""
    d = load_table(spark, sf_dir, "documents").where(F.col("lang") == "de")
    # sequence(1, length-2) defaults to step -1 when length(text) < 3 (e.g.
    # [1, 0, -1] for a 1-char doc), yielding spurious grams the oracle's
    # range() (empty for start >= stop) never produces — guard like
    # word_shingles does.
    raw_grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 2),
        lambda i: F.substring(F.col("text"), i, F.lit(3)),
    )
    grams = d.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(
                F.when(F.length("text") >= 3, raw_grams).otherwise(
                    F.array().cast("array<string>")
                )
            )
        ).alias("element"),
    )
    return (
        dd.set_jaccard_pairs(grams)
        .where(F.col("jaccard") >= 0.4)
        # stable_round: the displayed cell is a ratio of ints that can
        # land on an exact 4dp midpoint where F.round (HALF_UP) and
        # DuckDB round (half-even) split (membership is safe — the
        # threshold compares the UNROUNDED ratio on both sides).
        .select("id_a", "id_b", stable_round(F.col("jaccard"), 4).alias("jaccard"))
    )


@register(
    "q_join_salted",
    oracle="""
    WITH dim AS (
      SELECT l_returnflag, CAST(min(l_shipdate) AS TIMESTAMP) AS first_ship
      FROM lineitem GROUP BY 1
    )
    SELECT
      l.l_returnflag,
      count(*) AS n_rows,
      max(date_diff('day', CAST(d.first_ship AS DATE),
                    CAST(l.l_shipdate AS DATE))) AS max_gap_days
    FROM lineitem l JOIN dim d USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted JOIN (operators/skew.salted_join): l_returnflag has
    3 distinct values over 600k+ rows — a worst-case hot-key join where a
    plain shuffle join funnels each flag into one reducer. The salt spreads
    every flag over 16 sub-keys; the 3-row dim replicates 16×. Result is
    byte-identical to the plain join (the oracle). At test scale the tiny
    dim would broadcast anyway — the operator targets the
    too-big-to-broadcast middle regime (docstring in skew.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = li.groupBy("l_returnflag").agg(F.min("l_shipdate").alias("first_ship"))
    joined = salted_join(
        li.select("l_returnflag", "l_shipdate"), dim, "l_returnflag", n_salts=16
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(
            F.datediff(F.to_date("l_shipdate"), F.to_date("first_ship"))
        ).alias("max_gap_days"),
    )


@register(
    "q_grouping_id",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      GROUPING(l_returnflag, l_linestatus) AS gid,
      count(*)                             AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id(): the bitmask that disambiguates a real
    NULL key from a rolled-up subtotal row — required by any consumer
    materializing multi-level aggregates into one table (completes the
    q_agg_rollup/q_agg_cube family)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q_gini",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(14,2)) AS x,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS i
      FROM orders
      WHERE o_totalprice IS NOT NULL
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {stable_round_sql(
               "2.0 * CAST(sum(i * x) AS DOUBLE) / (count(*) * CAST(sum(x) AS DOUBLE))"
               " - (count(*) + 1.0) / count(*)", 6
           )} AS gini
    FROM ranked GROUP BY o_orderpriority
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order totals per priority class — the standard
    inequality/concentration metric (how top-heavy is revenue?), via the
    sorted-rank formula G = 2·Σi·xᵢ/(n·Σxᵢ) − (n+1)/n.

    Scale: one shuffle on the group key, one rank window per group, one
    grouped aggregate. Σi·xᵢ runs in DECIMAL (i·x is exact; doubles first
    appear at the final division, on identical inputs in both engines).
    Ties in x across ranks cannot change Σi·xᵢ — permuting equal values
    over a set of ranks leaves the sum invariant — so the orderkey
    tiebreak only pins the window, not the metric. NULL prices are
    excluded on both sides (a NULL has no place on a Lorenz curve, and
    unfiltered it would rank NULLS FIRST in Spark vs NULLS LAST in
    DuckDB, shifting every real rank — nulls fuzz variant, round 4)."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ranked = o.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(14,2)").alias("x"),
        F.row_number().over(w).alias("i"),
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        stable_round(
            F.lit(2.0)
            * F.sum(F.col("i") * F.col("x")).cast("double")
            / (F.count(F.lit(1)) * F.sum("x").cast("double"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


@register(
    "q_mad",
    oracle="""
    WITH med AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.5) AS med_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(any_value(m.med_qty), 4)                       AS median_qty,
           round(quantile_cont(abs(l.l_quantity - m.med_qty), 0.5), 4)
                                                                AS mad_qty
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of quantity per return flag — the robust
    dispersion measure outlier-heavy pipelines use where stddev is
    useless (50% breakdown point vs 0%).

    Scale: two grouped exact-percentile aggregates over the same key with
    a broadcast of the |groups|-row median table between them — the facts
    shuffle once per pass and never self-join row-to-row. Spark
    ``percentile`` ≡ DuckDB ``quantile_cont`` (q_agg_percentiles
    parity)."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med_qty")
    )
    j = li.join(F.broadcast(med), "l_returnflag")
    return j.groupBy("l_returnflag").agg(
        F.round(F.first("med_qty"), 4).alias("median_qty"),
        F.round(
            F.expr("percentile(abs(l_quantity - med_qty), 0.5)"), 4
        ).alias("mad_qty"),
    )


@register(
    "q_argmax",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey DESC)
               AS rmax,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice ASC, o_orderkey ASC)
               AS rmin
      FROM orders
    )
    SELECT
      o_orderpriority,
      max(CASE WHEN rmax = 1 AND o_totalprice IS NOT NULL
               THEN o_orderkey END)                 AS most_expensive_key,
      max(CASE WHEN rmin = 1 AND o_totalprice IS NOT NULL
               THEN o_orderkey END)                 AS cheapest_key,
      round(max(o_totalprice), 2)                   AS max_total,
      round(min(o_totalprice), 2)                   AS min_total
    FROM ranked GROUP BY o_orderpriority
    """,
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin aggregates: the key of each group's most/least
    expensive order in ONE aggregation pass (max_by/min_by over a struct
    ordering) — the one-scan alternative to a rank-window or self-join
    for single-winner-per-group.

    Determinism: the tie contract is (price, orderkey) lexicographic —
    max takes the larger key on a price tie, min the smaller — via a
    STRUCT ordering value, which stays injective at any key range. (The
    earlier scalar composite price·2²³ + orderkey was only injective
    while keys stayed under 0.01·2²³ = 83886 — a regenerated keyspace
    would silently break it; round-4 review.) DuckDB's arg_max cannot
    order by a struct, so the oracle expresses the same contract as two
    rank windows.

    NULL prices are not argmax candidates: the ordering value is masked
    to NULL (max_by/min_by skip NULL orderings — verified) because a raw
    struct(NULL, key) still compares, with the NULL field SMALLEST, so
    min_by would elect a NULL-price row while the oracle's NULLS LAST
    window ranks it dead last (nulls fuzz variant, round 4). A group
    whose prices are all NULL yields NULL keys on both engines."""
    o = load_table(spark, sf_dir, "orders")
    ordv = F.when(
        F.col("o_totalprice").isNotNull(),
        F.struct(F.col("o_totalprice"), F.col("o_orderkey")),
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", ordv).alias("most_expensive_key"),
        F.min_by("o_orderkey", ordv).alias("cheapest_key"),
        F.round(F.max("o_totalprice"), 2).alias("max_total"),
        F.round(F.min("o_totalprice"), 2).alias("min_total"),
    )


@register(
    "q_percentile_disc",
    oracle="""
    SELECT l_linestatus,
           count(*)                            AS n_rows,
           quantile_disc(l_quantity, 0.5)      AS p50_disc,
           quantile_disc(l_quantity, 0.9)      AS p90_disc
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (an actually-occurring value, never an
    interpolation — required wherever the metric must be a real
    observation, e.g. latency SLOs). Spark has no percentile_disc, so it
    is derived from the order statistic directly: the value at 1-based
    row ceil(p·n) of the sorted group — which is exactly DuckDB's
    quantile_disc definition.

    Scale: one rank window per group keyed by the groupBy column (the
    same shuffle the aggregate itself needs), then a filter to the two
    target ranks — no global sort, no second scan."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_linestatus").orderBy("l_quantity", "l_orderkey", "l_linenumber")
    w_all = Window.partitionBy("l_linestatus")
    ranked = li.select(
        "l_linestatus",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    return ranked.groupBy("l_linestatus").agg(
        F.first("n").alias("n_rows"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("l_quantity")
            )
        ).alias("p50_disc"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.9), F.col("l_quantity")
            )
        ).alias("p90_disc"),
    )


@register(
    "q_skyline",
    oracle="""
    WITH m AS (
      SELECT p_partkey,
             CAST(p_retailprice AS DECIMAL(12,2)) AS price,
             count(*) AS n_ship
      FROM part JOIN lineitem ON l_partkey = p_partkey
      GROUP BY p_partkey, p_retailprice
    )
    SELECT p_partkey, CAST(price AS DOUBLE) AS price, n_ship
    FROM m a
    WHERE NOT EXISTS (
      SELECT 1 FROM m b
      WHERE b.price <= a.price AND b.n_ship >= a.n_ship
        AND (b.price < a.price OR b.n_ship > a.n_ship)
    )
    ORDER BY price, p_partkey
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts: cheapest-for-their-popularity (minimize
    retail price, maximize times shipped). The oracle states the textbook
    NOT EXISTS dominance predicate; the engine computes the identical set
    via operators/skyline.py — per-partition local skyline prune
    (mapInPandas, no shuffle) then a broadcast anti-join over the tiny
    candidate union, exploiting skyline(S) = skyline(union of partition
    skylines). Comparisons run on exact DECIMAL/integer so both engines
    elect the same frontier. Scale: the O(n^2) self-join the oracle
    implies never materializes — each partition ships only its local
    frontier (~log-size for random data)."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").cast("decimal(12,2)").alias("price")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    m = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "price")
        .agg(F.count(F.lit(1)).alias("n_ship"))
    )
    from e2e_etl_pipeline_spark.operators.skyline import skyline

    return (
        skyline(m, minimize=["price"], maximize=["n_ship"])
        .select("p_partkey", F.col("price").cast("double").alias("price"), "n_ship")
        .orderBy("price", "p_partkey")
    )


@register(
    "q_agg_trimmed_mean",
    oracle=f"""
    WITH ranked AS (
      SELECT l_suppkey, l_extendedprice,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY l_extendedprice NULLS LAST,
                                         l_orderkey NULLS LAST,
                                         l_linenumber NULLS LAST) AS rn,
             count(*) OVER (PARTITION BY l_suppkey)               AS n,
             sum(CAST(l_extendedprice AS DECIMAL(18,2)))
               OVER (PARTITION BY l_suppkey)                      AS s_all
      FROM lineitem
    )
    SELECT l_suppkey,
           CAST(any_value(n) AS BIGINT)      AS n_rows,
           CAST(count(*) AS BIGINT)          AS n_kept,
           {stable_round_sql(
               "CAST(any_value(s_all) AS DOUBLE) / any_value(n)", 4
           )} AS mean_all,
           {stable_round_sql(
               "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
               " / count(*)", 4
           )} AS trimmed_mean
    FROM ranked
    WHERE rn > floor(n / 10.0) AND rn <= n - floor(n / 10.0)
    GROUP BY l_suppkey
    """,
)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of extended price per supplier — the robust
    location estimate that completes the outlier-resistant family
    (q_mad's dispersion, q_winsorize's clipping): drop the lowest and
    highest floor(n/10) rows BY RANK, then average what remains. Rank
    trimming (not value thresholds) keeps the kept multiset exact when
    ties straddle the cut; the (price, orderkey, linenumber) tiebreak and
    NULLS LAST pin the identical kept set in both engines, and trimming
    either of two equal boundary values leaves the same value multiset
    either way.

    Cross-engine exactness: sums accumulate in DECIMAL(18,2) before the
    cast-to-double division (partition-order-independent), and the means
    stable-round at 4dp.

    Scale: one shuffle on l_suppkey feeds rank, group size, and full-group
    sum from the SAME window exchange, then a partial-aggregated groupBy
    on the same key (ReusedExchange). Per-supplier groups are bounded
    (orders spread across suppliers), so no single task inherits the
    table — unlike a returnflag-keyed trim, which would funnel the corpus
    through 3 partitions at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    price_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    # NULLS LAST on the tiebreaks too (family-wide pinning rule): under a
    # mutation that NULLs a tiebreak key, Spark's bare ASC (NULLS FIRST)
    # would order equal-price rows oppositely to the DuckDB window default.
    w_rank = Window.partitionBy("l_suppkey").orderBy(
        F.asc_nulls_last("l_extendedprice"),
        F.asc_nulls_last("l_orderkey"),
        F.asc_nulls_last("l_linenumber"),
    )
    w_all = Window.partitionBy("l_suppkey")
    ranked = li.select(
        "l_suppkey",
        "l_extendedprice",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum(price_dec).over(w_all).alias("s_all"),
    )
    k = F.floor(F.col("n") / F.lit(10.0))
    kept = ranked.where((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k))
    return kept.groupBy("l_suppkey").agg(
        F.first("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        stable_round(
            F.first("s_all").cast("double") / F.first("n"), 4
        ).alias("mean_all"),
        stable_round(
            F.sum(price_dec).cast("double") / F.count(F.lit(1)), 4
        ).alias("trimmed_mean"),
    )


@register(
    "q_agg_weighted_median",
    oracle="""
    WITH f AS (
      SELECT l_suppkey, l_extendedprice, l_orderkey, l_linenumber,
             CAST(l_quantity AS DECIMAL(12,2)) AS wgt
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    r AS (
      SELECT l_suppkey, l_extendedprice, wgt,
             sum(wgt) OVER (PARTITION BY l_suppkey
                            ORDER BY l_extendedprice,
                                     l_orderkey NULLS LAST,
                                     l_linenumber NULLS LAST
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(wgt) OVER (PARTITION BY l_suppkey) AS tot
      FROM f
    )
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT)          AS n_rows,
           CAST(any_value(tot) AS DOUBLE)    AS total_weight,
           min(CASE WHEN cum * 2 >= tot THEN l_extendedprice END)
                                             AS weighted_median_price
    FROM r GROUP BY l_suppkey
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lower weighted median of extended price per supplier, weighted by
    quantity: the smallest price whose cumulative weight reaches half the
    group total (2·cum >= tot, divisionless). Quantile-by-weight is the
    estimator inventory-style pipelines need where each row represents
    many units — plain median (q_mad's 0.5 quantile) treats a 50-unit
    line like a 1-unit line.

    Cross-engine exactness: weights accumulate in DECIMAL(12,2) (the
    running cum is additionally pinned by the total order (price,
    orderkey, linenumber)), the half-total comparison runs in DECIMAL,
    and the selected median is an INPUT value — no division or rounding
    anywhere. NULL price/weight rows are excluded up front on both sides
    (an explicit contract, since a NULL weight would poison the running
    sum in engine-specific ways).

    Scale: same single-exchange shape as q_agg_trimmed_mean — one shuffle
    on l_suppkey feeds the ordered cumulative window, the group total,
    and the final groupBy (ReusedExchange); per-supplier groups stay
    bounded at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    wgt = F.col("l_quantity").cast("decimal(12,2)")
    # Tiebreak NULLS LAST pins (family-wide rule; price itself is
    # filtered non-NULL above).
    w_ord = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            "l_extendedprice",
            F.asc_nulls_last("l_orderkey"),
            F.asc_nulls_last("l_linenumber"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_suppkey")
    r = li.select(
        "l_suppkey",
        "l_extendedprice",
        F.sum(wgt).over(w_ord).alias("cum"),
        F.sum(wgt).over(w_all).alias("tot"),
    )
    return r.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.first("tot").cast("double").alias("total_weight"),
        F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("l_extendedprice"))
        ).alias("weighted_median_price"),
    )


@register(
    "q_agg_geometric_mean",
    oracle=f"""
    WITH q AS (
      SELECT l_suppkey,
             CAST(ln(CAST(l_extendedprice AS DOUBLE)) AS DECIMAL(18,9)) AS lx
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0
    )
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           {stable_round_sql(
               "exp(CAST(sum(lx) AS DOUBLE) / count(*))", 4
           )} AS geo_mean_price
    FROM q GROUP BY l_suppkey
    """,
)
def q_agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of extended price per supplier — the multiplicative
    average skew-heavy money data wants (exp of the mean log). Rows with
    non-positive or NULL price are excluded by contract on both sides
    (ln is undefined there; ANSI Spark would raise).

    Cross-engine exactness: the q_zipf_slope discipline — ln() quantizes
    to DECIMAL(18,9) so the per-group sums are exact and
    partition-order-independent; one identical exp/div expression per
    engine, stable-rounded at 4dp.

    Scale: a single partial-agg'd groupBy on the supplier key; the log
    runs inside the scan projection."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull() & (F.col("l_extendedprice") > 0)
    )
    lx = F.log(F.col("l_extendedprice").cast("double")).cast("decimal(18,9)")
    return (
        li.select("l_suppkey", lx.alias("lx"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            stable_round(
                F.exp(F.sum("lx").cast("double") / F.count(F.lit(1))), 4
            ).alias("geo_mean_price"),
        )
    )


@register(
    "q_chi2_independence",
    oracle=f"""
    WITH obs AS (
      SELECT event_type, user_id % 2 AS cohort, count(*) AS o
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    margins AS (
      SELECT o.event_type, o.cohort, o.o,
             sum(o.o) OVER (PARTITION BY o.event_type) AS row_total,
             sum(o.o) OVER (PARTITION BY o.cohort)     AS col_total,
             sum(o.o) OVER ()                          AS grand
      FROM obs o
    ),
    cells AS (
      SELECT CAST(o AS DOUBLE) AS od,
             CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
               / CAST(grand AS DOUBLE) AS e,
             row_total, col_total
      FROM margins
    ),
    agg AS (
      SELECT sum((od - e) * (od - e) / e)           AS chi2,
             count(*)                               AS n_cells,
             count(DISTINCT row_total)              AS _r_dummy
      FROM cells
    ),
    dims AS (
      SELECT count(DISTINCT event_type) AS r, count(DISTINCT cohort) AS c
      FROM obs
    )
    SELECT CAST((SELECT r FROM dims) AS BIGINT)                  AS n_rows_dim,
           CAST((SELECT c FROM dims) AS BIGINT)                  AS n_cols_dim,
           CAST(((SELECT r FROM dims) - 1)
                * ((SELECT c FROM dims) - 1) AS BIGINT)          AS dof,
           {stable_round_sql("(SELECT chi2 FROM agg)", 4)}       AS chi2
    """,
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and the
    even/odd user cohort (the q_abtest cohort split): the contingency
    statistic an experimentation pipeline computes before trusting a
    segmentation. Emits the statistic and degrees of freedom; the
    caller compares against the critical value for its alpha.

    Cross-engine exactness: observed counts and margins are exact
    integers; each cell's (O-E)²/E derives from the SAME integers in the
    same expression shape, and the ≤ |types|·2 cell terms sum well inside
    the 4dp round (the q_entropy bounded-term rule). NULL user/type rows
    are excluded by contract on both sides.

    Scale: one partial-agg'd groupBy to the contingency cells
    (|types|×2 rows), margins via windows over that tiny frame, one
    closed-form aggregate — the fact table is read once."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    obs = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("cohort")
    ).agg(F.count(F.lit(1)).alias("o"))
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("cohort")
    w_g = Window.partitionBy()
    m = obs.select(
        "event_type",
        "cohort",
        "o",
        F.sum("o").over(w_r).alias("row_total"),
        F.sum("o").over(w_c).alias("col_total"),
        F.sum("o").over(w_g).alias("grand"),
    )
    od = F.col("o").cast("double")
    e = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("grand").cast("double")
    )
    agg = m.agg(
        F.sum((od - e) * (od - e) / e).alias("chi2"),
        F.countDistinct("event_type").cast("long").alias("n_rows_dim"),
        F.countDistinct("cohort").cast("long").alias("n_cols_dim"),
    )
    return agg.select(
        "n_rows_dim",
        "n_cols_dim",
        ((F.col("n_rows_dim") - 1) * (F.col("n_cols_dim") - 1))
        .cast("long")
        .alias("dof"),
        stable_round(F.col("chi2"), 4).alias("chi2"),
    )
