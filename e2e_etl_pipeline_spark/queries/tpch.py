"""TPC-H composite analytics family (adapted to the testdata schema).

The classic decision-support suite is the canonical answer to "what does a
100 TB warehouse actually run": selective multi-way joins, semi/anti joins,
OR-of-AND predicate pushdown, group-by-having over a fact table, and
ratio-of-sums reporting. The testdata star schema is TPC-H-ish but trimmed
(no partsupp; lineitem lacks shipmode/commitdate/receiptdate; orders lacks
shippriority), so queries needing those columns are adapted — each docstring
notes the deviation. Reference parity: these generalize the reference's
join+aggregate reporting intent (SURVEY.md §2 B.3/B.4) onto the standard
benchmark shapes; the reference itself (a 2-site scraper,
DataExtract/extract_data.py) has no multi-table query engine at all.

Scale notes (apply to the whole family):
  * Dimension joins (region, nation) are explicitly broadcast — they are
    O(25) rows at any scale factor. customer/supplier/part joins are left
    to AQE, which broadcasts while they fit and shuffles when they do not;
    forcing a broadcast on a table that grows with SF is the round-1
    star-join mistake (VERDICT.md) and is not repeated here.
  * Fact-side aggregates (Q18's per-order quantity, Q4's semi join) reduce
    lineitem BEFORE joining the wider tables, so the big shuffle carries
    grouped longs/decimals, never full rows.
  * All money math runs in DECIMAL until the final round (registry
    hash-stability rules); ratios divide decimal sums cast to double.
  * Every LIMIT carries a unique total order (explicit key tiebreaker).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions.rounding import stable_round, stable_round_sql
from e2e_etl_pipeline_spark.registry import register


def _dec_price() -> "F.Column":
    return F.col("l_extendedprice").cast("decimal(12,2)")


def _dec_disc() -> "F.Column":
    return F.col("l_discount").cast("decimal(4,2)")


def _revenue() -> "F.Column":
    """extendedprice * (1 - discount) in exact DECIMAL."""
    return _dec_price() * (F.lit(1) - _dec_disc())


_REVENUE_SQL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"


# --------------------------------------------------------------------------
# Q3 — shipping priority: unshipped-as-of-date revenue per order.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q3",
    oracle=f"""
    SELECT
      l_orderkey,
      CAST(round(sum({_REVENUE_SQL}), 2) AS DOUBLE) AS revenue,
      o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-07-01'
      AND l_shipdate  > TIMESTAMP '1998-07-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (adapted: o_orderpriority stands in for the missing
    o_shippriority). Segment filter prunes customer before the join;
    both date predicates push into the parquet scans. The group-by key
    includes the order columns so no second join is needed post-agg."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q4 — order priority checking via EXISTS (late-shipment adaptation).
# --------------------------------------------------------------------------
@register(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted: the missing l_commitdate < l_receiptdate lateness
    test becomes "some lineitem shipped > 90 days after the order date").
    Plans as a LEFT SEMI join on l_orderkey with the non-equi lateness
    predicate as the join condition — lineitem is never widened, and the
    semi join short-circuits per order at scale."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# Q5 — local supplier volume within one region.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q5",
    oracle=f"""
    SELECT
      n_name,
      CAST(round(sum({_REVENUE_SQL}), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 verbatim: the "local supplier" constraint is the extra
    c_nationkey = s_nationkey equi-condition on the supplier join.
    nation ⋈ region (O(25) rows forever) broadcasts explicitly; the
    customer/supplier joins stay AQE-decided so the plan survives a
    100× customer table."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = F.broadcast(n.join(r, F.col("n_regionkey") == F.col("r_regionkey")))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(dims, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q6 — forecasting revenue change: single-table selective aggregate.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
           AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 verbatim: the canonical pushdown probe — all three
    predicates and the two-column projection must reach the parquet scan
    (asserted in tests/test_plans.py), after which the whole query is one
    map-side partial sum plus a single-row exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(_dec_price() * _dec_disc()), 2).cast("double").alias("revenue")
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by direction and year.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q7",
    oracle=f"""
    SELECT
      supp_nation,
      cust_nation,
      l_year,
      CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT
        n1.n_name AS supp_nation,
        n2.n_name AS cust_nation,
        year(l_shipdate) AS l_year,
        {_REVENUE_SQL} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey  = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey  = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1999-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 verbatim (nation pair NATION_1/NATION_2). The two nation
    lookups broadcast; the disjunctive nation-pair predicate runs after
    them, and Catalyst infers n_nationkey IN (1,2) filters onto both
    supplier and customer scans, so the fact joins only carry the two
    relevant nations' rows."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q8 — market share of one nation within a region's market.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q8",
    oracle=f"""
    SELECT
      o_year,
      {stable_round_sql(
          "CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume"
          " ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)"
          " / nullif(CAST(sum(volume) AS DOUBLE), 0)", 4
      )} AS mkt_share
    FROM (
      SELECT
        year(o_orderdate) AS o_year,
        CAST({_REVENUE_SQL} AS DECIMAL(16,4)) AS volume,
        n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey  = l_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN nation n1 ON c_nationkey  = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN supplier  ON l_suppkey   = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA'
        AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (adapted: single-word p_type domain, target supplier
    nation NATION_5, market region AMERICA). Ratio-of-conditional-sums runs
    entirely in DECIMAL(16,4) so both engines accumulate identically, then
    divides as double and rounds to 4 (registry rules). The seven-way join
    keeps all O(25) dims broadcast and lets AQE handle part/customer."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust_region = F.broadcast(
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey")).select(
            F.col("n_nationkey").alias("c_nk")
        )
    )
    supp_nation = F.broadcast(
        n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation"))
    )
    vol = _revenue().cast("decimal(16,4)")
    zero = F.lit(0).cast("decimal(16,4)")
    joined = (
        p.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(cust_region, F.col("c_nationkey") == F.col("c_nk"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(supp_nation, F.col("s_nationkey") == F.col("s_nk"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nation")
    )
    return joined.groupBy("o_year").agg(
        stable_round(
            F.try_divide(
                F.sum(
                    F.when(
                        F.col("nation") == "NATION_5", F.col("volume")
                    ).otherwise(zero)
                ).cast("double"),
                F.sum("volume").cast("double"),
            ),
            4,
        ).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# Q9 — product-type profit by supplier nation and year.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q9",
    oracle=f"""
    SELECT
      nation,
      o_year,
      CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT
        n_name AS nation,
        year(o_orderdate) AS o_year,
        {_REVENUE_SQL} AS amount
      FROM part
      JOIN lineitem ON p_partkey  = l_partkey
      JOIN supplier ON l_suppkey  = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: no partsupp table, so profit omits the
    ps_supplycost * l_quantity term and is pure discounted revenue).
    The '%red%' contains-filter cannot push to a parquet statistic but
    does prune part before the fact join; nation broadcasts."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        p.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            _revenue().alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("sum_profit"))
    )


# --------------------------------------------------------------------------
# Q10 — returned-item reporting: top customers by lost revenue.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q10",
    oracle=f"""
    SELECT
      c_custkey,
      c_name,
      CAST(round(sum({_REVENUE_SQL}), 2) AS DOUBLE) AS revenue,
      c_acctbal,
      n_name
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 verbatim: one quarter of 'R'-flagged lineitems, revenue
    per customer, top 20. Both filters push to scans; the group-by carries
    the customer attributes in the key so no re-join after the aggregate;
    revenue desc + c_custkey gives the unique total order the LIMIT needs."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q12 — shipping lateness vs order priority (shipmode adaptation).
# --------------------------------------------------------------------------
@register(
    "q_tpch_q12",
    oracle="""
    SELECT
      lateness,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
        AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
        AS BIGINT) AS low_line_count
    FROM (
      SELECT
        o_orderpriority,
        CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 120 THEN 'VERY LATE'
             WHEN date_diff('day', o_orderdate, l_shipdate) > 60  THEN 'LATE'
             ELSE 'ON TIME' END AS lateness
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipped
    GROUP BY lateness
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: lineitem has no l_shipmode/commitdate/receiptdate,
    so the group key is a ship-lag bucket — days between order and ship —
    and the measure is the classic high/low priority line counts). Both
    timestamps are midnight-aligned, so day-diff bucketing is exact and
    engine-independent."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    lateness = (
        F.when(lag > 120, "VERY LATE").when(lag > 60, "LATE").otherwise("ON TIME")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(lateness.alias("lateness"), high.alias("is_high"))
        .groupBy("lateness")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~F.col("is_high"), 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q14 — promotion effect: ratio of promo revenue to total revenue.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q14",
    oracle=f"""
    SELECT
      {stable_round_sql(
          "100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'"
          f" THEN CAST({_REVENUE_SQL} AS DECIMAL(16,4))"
          " ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)"
          f" / nullif(CAST(sum(CAST({_REVENUE_SQL} AS DECIMAL(16,4))) AS DOUBLE), 0)",
          4,
      )} AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (adapted: p_type = 'PROMO' exact match, single-word type
    domain). One selective month of lineitem joins part (AQE broadcasts
    part while it fits); the conditional and total sums accumulate in
    DECIMAL(16,4) and divide as doubles rounded to 4."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = _revenue().cast("decimal(16,4)")
    zero = F.lit(0).cast("decimal(16,4)")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            stable_round(
                F.lit(100.0)
                * F.try_divide(
                    F.sum(
                        F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)
                    ).cast("double"),
                    F.sum(vol).cast("double"),
                ),
                4,
            ).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers: group-by-having over the fact table.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q18",
    oracle="""
    SELECT
      c_name,
      c_custkey,
      o_orderkey,
      o_orderdate,
      o_totalprice,
      round(sum(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (threshold 250 ≈ top 1% of orders in this data). The
    qualifying-order set reduces lineitem to grouped (orderkey, sum)
    longs BEFORE any join — the classic aggregate-then-join rewrite that
    keeps the big shuffle narrow at 100 TB — then semi-joins orders and
    re-joins lineitem only for the surviving keys."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_all"))
        .filter(F.col("sum_qty_all") > 250)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue under OR-of-AND predicates.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q19",
    oracle=f"""
    SELECT CAST(round(sum({_REVENUE_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted brands/sizes to this data's domains): the
    OR-of-AND predicate spans both join sides, so it must evaluate post-join
    — but Catalyst derives the single-side implications (brand IN (...),
    size/quantity envelopes) and pushes THOSE into both scans, which is
    the behavior this key exists to exercise."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    branch = lambda brand, size_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= size_hi)
        & (q >= q_lo)
        & (q <= q_hi)
    )
    cond = (
        branch("Brand#1", 15, 1, 11)
        | branch("Brand#2", 25, 10, 20)
        | branch("Brand#3", 35, 20, 30)
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q22 — dormant high-balance customers (global sales opportunity).
# --------------------------------------------------------------------------
@register(
    "q_tpch_q22",
    oracle="""
    SELECT
      c_nationkey,
      count(*) AS numcust,
      CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE CAST(c_acctbal AS DECIMAL(12,2))
            * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
          > (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2)))
             FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2001-01-01'
      )
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: no phone column, so the group key is
    c_nationkey, and "no orders" — vacuous in this data — becomes "no
    orders since 2001-01-01"). The above-average filter is DIVISIONLESS:
    bal > avg(pos) rewrites to bal·n_pos > sum_pos with both sides exact
    DECIMAL — an engine-native double avg() accumulates in partition
    order, and a 2dp balance sitting exactly on the true mean would flip
    the strict > between engines (round-4 review; the q17/q11 pattern).
    The NOT EXISTS is a LEFT ANTI join against the pruned recent-orders
    scan. Balance sums run in DECIMAL."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = F.broadcast(
        c.filter(F.col("c_acctbal") > 0.0).agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).alias("sum_pos"),
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(avg_bal)
        .filter(
            F.col("c_acctbal").cast("decimal(12,2)") * F.col("n_pos")
            > F.col("sum_pos")
        )
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )

# --------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join + double group-by).
# --------------------------------------------------------------------------
@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (adapted: the o_comment NOT LIKE exclusion becomes
    "exclude 1-URGENT orders" — same shape, a filter embedded in the outer
    join condition, NOT a pre-filter, so order-less customers still count
    with c_count = 0). Two cascaded aggregations: the first shuffles on
    c_custkey (same key as the join, so AQE coalesces into one exchange),
    the second reduces to |distinct counts| rows. count(o_orderkey) —
    not count(*) — so NULL-extended rows contribute zero."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q15 — top supplier(s) by quarterly revenue (agg + scalar-max filter).
# --------------------------------------------------------------------------
@register(
    "q_tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, sum({_REVENUE_SQL}) AS rev_d
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate <  TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT
      s_suppkey,
      s_name,
      CAST(round(rev_d, 2) AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE rev_d = (SELECT max(rev_d) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (view + scalar subquery): quarterly revenue per supplier,
    returning the supplier(s) achieving the global maximum. The revenue
    "view" materializes once as a |suppliers|-row aggregate; the max is a
    1-row frame broadcast back onto it (never a window over the fact
    table), and ties are decided on the EXACT decimal sum — rounding
    happens only in the projection, so both engines pick identical
    winners. Supplier join runs after the reduction, carrying only the
    max-revenue row(s)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_revenue()).alias("rev_d")
    )
    mx = F.broadcast(rev.agg(F.max("rev_d").alias("mx")))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(mx, F.col("rev_d") == F.col("mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_d"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated per-part average).
# --------------------------------------------------------------------------
@register(
    "q_tpch_q17",
    oracle=f"""
    WITH brand_li AS (
      SELECT l_partkey, CAST(l_quantity AS DECIMAL(12,2)) AS qty,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS price
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#12'
    ),
    cut AS (
      SELECT l_partkey, sum(qty) AS sum_qty, count(*) AS n
      FROM brand_li GROUP BY l_partkey
    )
    SELECT
      {stable_round_sql("CAST(sum(price) AS DOUBLE) / 7.0", 2)} AS avg_yearly
    FROM brand_li
    JOIN cut USING (l_partkey)
    WHERE qty * 5 * n < sum_qty
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (adapted: no p_container column, so the part predicate is
    brand-only; the 7-year divisor is kept from the spec). The correlated
    subquery `l_quantity < 0.2 * avg(l_quantity per part)` is decorrelated
    into one per-part aggregate joined back on l_partkey — two passes over
    the brand slice, never a per-row subquery. The threshold compare is
    rewritten divisionless (qty * 5 * n < sum_qty) so it runs in EXACT
    decimal/integer arithmetic — no FP average whose last-bit could flip
    the predicate differently per engine. The part filter prunes lineitem
    before both aggregates."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    brand_li = li.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
        _dec_price().alias("price"),
    )
    cut = brand_li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )
    return (
        brand_li.join(cut, "l_partkey")
        .filter(F.col("qty") * 5 * F.col("n") < F.col("sum_qty"))
        .agg(
            stable_round(F.sum("price").cast("double") / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


# --------------------------------------------------------------------------
# Q21 — suppliers who alone held up multi-supplier orders.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q21",
    oracle="""
    SELECT s_suppkey, s_name, count(DISTINCT l1.l_orderkey) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_suppkey, s_name
    ORDER BY numwait DESC, s_suppkey
    LIMIT 10
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: lateness `l_receiptdate > l_commitdate` — columns
    absent — becomes "shipped > 60 days after the order date"; numwait
    counts distinct orders so the EXISTS oracle and the aggregate rewrite
    agree exactly). The EXISTS / NOT EXISTS pair is rewritten as ONE
    per-order aggregate: an order charges its supplier iff it has > 1
    distinct supplier and EXACTLY ONE distinct late supplier — identical
    semantics, but a single shuffle on l_orderkey instead of two
    correlated self-joins over the fact table. Orders ('F' slice) joins
    the per-order summary on its own key; supplier attaches only to the
    |qualifying orders| survivors."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    # INTERVAL (not date_add): date_add truncates to midnight, so a
    # regenerated o_orderdate WITH a time component would shift the late
    # threshold vs the oracle's o_orderdate + INTERVAL 60 DAY (q4 pattern).
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
        F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
    )
    blamed = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    ).select("l_orderkey", "late_supp")
    s = load_table(spark, sf_dir, "supplier")
    return (
        blamed.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s, F.col("s_suppkey") == F.col("late_supp"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated min decorrelated to an agg join).
# --------------------------------------------------------------------------
@register(
    "q_tpch_q2",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    ),
    rsupply AS (
      SELECT l_partkey, l_suppkey, cost, s_acctbal, s_name, n_name
      FROM supply
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_regionkey = 2
    ),
    mincost AS (
      SELECT l_partkey, min(cost) AS min_cost
      FROM rsupply
      GROUP BY l_partkey
    )
    SELECT
      s_acctbal, s_name, n_name, p_partkey, p_type,
      CAST(cost AS DOUBLE) AS supplycost
    FROM part
    JOIN rsupply ON p_partkey = rsupply.l_partkey
    JOIN mincost ON rsupply.l_partkey = mincost.l_partkey
             AND cost = min_cost
    WHERE p_size BETWEEN 10 AND 19 AND p_type = 'LARGE'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, l_suppkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted: no partsupp table, so the supply relation is the
    distinct (part, supplier) pairs observed in lineitem with supplycost =
    the minimum extended price that supplier ever charged for that part;
    region scope R2 stands in for EUROPE). The spec's correlated
    `ps_supplycost = (SELECT min ...)` is decorrelated into a per-part min
    aggregate joined back on l_partkey — no per-row subquery. The min/
    equality compare runs on EXACT decimal, so both engines elect the same
    winners; the LIMIT rides a unique total order (pair-grain rows plus
    (partkey, suppkey) tiebreak). Scale: supply reduces the fact table to
    pair grain BEFORE any dimension join; nation broadcasts; the region
    filter prunes suppliers ahead of the join, and the final part filter
    (size+type, pushed to the scan) keeps the mincost join tiny."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 19) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_type")
    )
    # Prune the fact table to the selected part family BEFORE the pair
    # aggregate — Catalyst cannot push the part filter through the
    # mincost aggregate on its own, and the selection keeps ~1/30 of
    # pairs out of the shuffle.
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(p.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "semi",
    )
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_dec_price()).alias("cost")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    rsupply = (
        supply.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", "l_suppkey", "cost", "s_acctbal", "s_name", "n_name")
    )
    mincost = rsupply.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    return (
        p.join(rsupply, F.col("p_partkey") == rsupply["l_partkey"])
        .join(
            mincost,
            (rsupply["l_partkey"] == mincost["l_partkey"])
            & (F.col("cost") == F.col("min_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("cost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey", rsupply["l_suppkey"]
        )
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q11 — important parts: value share above a global-fraction threshold.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q11",
    oracle=f"""
    WITH val AS (
      SELECT l_partkey, sum({_REVENUE_SQL}) AS value_d
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_regionkey = 0
      GROUP BY l_partkey
    )
    SELECT
      l_partkey,
      CAST(round(value_d, 2) AS DOUBLE) AS part_value
    FROM val
    WHERE value_d * 1000 > (SELECT sum(value_d) FROM val)
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: no partsupp, so "stock value" is discounted
    revenue per part shipped by region-0 suppliers — GERMANY's stand-in is
    a whole region to keep the slice non-trivial at small SF). The spec
    shape survives intact: one per-part aggregate, one scalar global sum,
    a fraction threshold. The threshold compare is divisionless
    (value * 1000 > total) in EXACT decimal so the boundary row set is
    bit-identical across engines. Scale: the global total is a 1-row
    broadcast back onto the per-part frame (never a window); the fact
    shuffle carries (partkey, decimal) cells only."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    val = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_revenue()).alias("value_d"))
    )
    total = F.broadcast(val.agg(F.sum("value_d").alias("total_d")))
    return (
        val.crossJoin(total)
        .filter(F.col("value_d") * 1000 > F.col("total_d"))
        .select(
            "l_partkey",
            F.round(F.col("value_d"), 2).cast("double").alias("part_value"),
        )
    )


# --------------------------------------------------------------------------
# Q16 — supplier diversity per part attribute, excluding flagged suppliers.
# --------------------------------------------------------------------------
@register(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#4'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      -- explicit IS NOT NULL: NOT IN over an EMPTY blacklist is TRUE even
      -- for NULL keys, so without it a no-arrears regeneration plus NULL
      -- l_suppkey rows would keep pairs the engine's prefilter drops
      AND l_suppkey IS NOT NULL
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: the supply relation is distinct lineitem
    (part, supplier) pairs; the spec's `s_comment LIKE '%Complaints%'`
    exclusion — column absent — becomes "suppliers in arrears"
    (s_acctbal < 0)). Shape intact: attribute-sliced distinct-supplier
    counts with a NOT-IN supplier blacklist, rewritten as a broadcast
    anti-join over non-null left keys (NULL l_suppkey rows are filtered
    first: NOT IN drops them via NULL comparison, anti-join would keep
    them — the NULL-FK trap documented in the verify skill). Scale: the pair
    dedup is the only fact-table shuffle; part attributes join at pair
    grain, and the blacklist is O(suppliers) broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    # NOT IN semantics: a NULL l_suppkey makes the oracle predicate NULL
    # (row dropped), while left_anti would KEEP a NULL-key row — filter
    # NULLs first so both engines agree even if a regenerated testdata
    # nulls fact FKs (the nulls fuzz variant does exactly that).
    ps = (
        li.filter(F.col("l_suppkey").isNotNull())
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q20 — dominant suppliers of a part family (nested semi-join chain).
# --------------------------------------------------------------------------
@register(
    "q_tpch_q20",
    oracle="""
    WITH red_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    qty AS (
      SELECT l_suppkey, l_partkey,
             sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq
      FROM lineitem
      JOIN red_parts ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate <  TIMESTAMP '1999-01-01'
      GROUP BY l_suppkey, l_partkey
    ),
    thresh AS (
      SELECT l_partkey, sum(sq) AS total_q FROM qty GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM qty
        JOIN thresh USING (l_partkey)
        WHERE sq * 2 > total_q
      )
      AND s_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_regionkey = 1
      )
    ORDER BY s_suppkey
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: no partsupp/availqty, so "holds excess stock"
    becomes "shipped more than HALF the 1998 quantity of some red part";
    'red%' stands in for 'forest%', region 1 for CANADA). The nested
    IN-subquery chain of the spec is preserved as two semi joins: supplier
    ⋉ dominant-shippers ⋉ region-1 nations. The dominance compare is
    divisionless (sq * 2 > total_q) on EXACT decimal. Scale: the fact
    table reduces to (supplier, part) grain behind a scan-pushed date
    filter and a broadcast part-family probe; the per-part total is a
    second small agg on the already-reduced frame, joined back on its own
    partitioning key."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    qty = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("sq"))
    )
    thresh = qty.groupBy("l_partkey").agg(F.sum("sq").alias("total_q"))
    dominant = (
        qty.join(thresh, "l_partkey")
        .filter(F.col("sq") * 2 > F.col("total_q"))
        .select("l_suppkey")
    )
    n1 = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 1)
        .select("n_nationkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(dominant), F.col("s_suppkey") == F.col("l_suppkey"), "semi")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey"), "semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
