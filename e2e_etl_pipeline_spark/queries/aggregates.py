"""B.4 — aggregation surface.

Generalizes A26 (max watermark), A27 (count), A28 (ordered string merge),
A24 (keyed first-wins dedup). All grouped aggregations here are hash
aggregates with map-side partial aggregation — the shuffle moves one row per
(partition, group), not per input row, which is what keeps them viable when
the input is 100 TB and the group count is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions.money import money_sum
from e2e_etl_pipeline_spark.registry import register


@register(
    "q_agg_global",
    oracle="""
    SELECT
      count(*)                        AS n_rows,
      count(DISTINCT l_orderkey)      AS n_orders,
      round(max(l_extendedprice), 2)  AS max_price,
      round(min(l_extendedprice), 2)  AS min_price,
      round(sum(l_quantity), 2)       AS total_qty,
      coalesce(max(CASE WHEN l_quantity > 100 THEN l_linenumber END), -1)
                                      AS watermark_or_default
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26/A27 verbatim semantics: global count/max, with the reference's
    `max(..., default=-1)` idiom (DataExtract/extract_data.py:223) expressed
    as coalesce(max(...), -1)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.coalesce(
            F.max(F.when(F.col("l_quantity") > 100, F.col("l_linenumber"))), F.lit(-1)
        ).alias("watermark_or_default"),
    )


@register(
    "q_agg_count_distinct",
    oracle="""
    SELECT
      l_returnflag,
      count(DISTINCT l_partkey) AS n_parts,
      count(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts in one dedup and one count:
    each distinct column contributes (flag, column tag, key) rows, the
    union is deduped with partial aggregation, and a per-flag conditional
    count reads both columns off the deduped pairs.

    Why not `agg(countDistinct(a), countDistinct(b))`: Spark plans
    multi-distinct through an `Expand` that multiplies every input row by
    the number of distinct aggregates (3× here) BEFORE the shuffle — at
    100 TB that's 300 TB shuffled. Here each branch is a column-pruned
    scan, and only the surviving (flag, tag, key) triples are shuffled.
    Why not one dedup-and-count per column joined on the flag: the two
    branches race, and AQE built the join from whichever finished first,
    so the executed plan and its generated classes changed from run to
    run; this form is a single chain. The approximate variant below (HLL)
    is the single-pass constant-memory alternative when exactness isn't
    required."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        "l_returnflag", F.lit(0).alias("tag"), F.col("l_partkey").alias("key")
    ).unionByName(
        li.select("l_returnflag", F.lit(1).alias("tag"), F.col("l_suppkey").alias("key"))
    )
    # count(key), not count(1): COUNT(DISTINCT col) excludes NULLs, and the
    # deduped frame keeps a (flag, tag, NULL) row if a key column has one.
    # Every row of a flag feeds both tags, so no flag group can miss one.
    return (
        pairs.distinct()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("tag") == 0, F.col("key"))).alias("n_parts"),
            F.count(F.when(F.col("tag") == 1, F.col("key"))).alias("n_suppliers"),
        )
    )


@register(
    "q_agg_approx_distinct",
    oracle="""
    SELECT l_linestatus,
           count(DISTINCT l_suppkey) AS exact_suppliers,
           count(*)                  AS n_rows,
           TRUE                      AS within_10pct
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): constant memory per group vs
    the exact variant's expand+shuffle — the scale path for wide-cardinality
    distinct counts.

    Upgraded from rows-only (round-6 verdict #8): the engine-specific
    estimate stays OUT of the output (it can never hash-match a DuckDB
    sketch), but the exact per-group distinct count is SQL and a boolean
    asserts the HLL++ estimate at rsd=0.02 landed within 10% of it
    (~5σ — regeneration-proof; pytest keeps a tighter assert on current
    data). Distinct grain/column from q_approx_distinct_bound
    (l_linestatus/l_suppkey vs l_returnflag/l_partkey) so the two keys
    cover two shapes of the same contract."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.countDistinct("l_suppkey")
    apx = F.approx_count_distinct("l_suppkey", 0.02)
    return li.groupBy("l_linestatus").agg(
        exact.alias("exact_suppliers"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.abs(apx - exact) * 10 <= exact).alias("within_10pct"),
    )


@register(
    "q_approx_distinct_bound",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey)    AS exact_parts,
           count(*)                     AS n_rows,
           TRUE                         AS within_10pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_approx_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for approx_count_distinct: emits
    the EXACT per-group distinct count (SQL-reproducible) plus a boolean
    asserting the HLL++ estimate at rsd=0.02 landed within 10% of it
    (~5σ — chosen so a per-round testdata regeneration at any cardinality
    cannot flip it by bad luck; pytest separately asserts the tighter 6%
    on current data). The raw estimate itself stays OUT of the output —
    sketches are engine-specific, so it can never hash-match an oracle —
    but the bound column fails the driver's exact compare if the sketch
    ever degrades. Companion rows-only key q_agg_approx_distinct carries
    the estimates themselves."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.02)
                - F.countDistinct("l_partkey")
            )
            * 10
            <= F.countDistinct("l_partkey")
        ).alias("within_10pct"),
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT l_suppkey, count(*) AS n_items, round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING count(*) > 550 AND sum(l_quantity) > 13000
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING): per-supplier totals filtered on
    the aggregate itself."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .where((F.col("n_items") > 550) & (F.col("_raw_qty") > 13000))
        .select("l_suppkey", "n_items", F.round("_raw_qty", 2).alias("total_qty"))
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      count(*)                  AS n_rows,
      round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals; NULL marks the rolled-up level (both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT
      o_orderstatus,
      o_orderpriority,
      count(*)                     AS n_orders,
      CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 2^2 grouping combinations in one
    pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("total"),
    )


@register(
    "q_agg_string_concat",
    oracle="""
    SELECT
      n_regionkey,
      string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q_agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28 (ordered HTML-fragment merge, extract_data.py:145,245) as an
    order-stable string aggregation: sort inside the group, then join —
    deterministic regardless of partitioning."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@register(
    "q_dedup_first_wins",
    oracle="""
    SELECT user_id, event_id, event_type
    FROM (
      SELECT
        user_id, event_id, event_type,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY ts NULLS LAST, event_id) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def q_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24's insert-if-absent dedup (extract_data.py:194-197): keep the
    FIRST row per key under an explicit order — row_number over a window,
    never dropDuplicates (whose survivor is partitioning-dependent)."""
    e = load_table(spark, sf_dir, "events")
    # NULLS LAST pinned on both sides: Spark ASC defaults to NULLS FIRST,
    # DuckDB window ORDER BY to NULLS LAST — one NULL ts would flip the
    # survivor between engines.
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.asc_nulls_last("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


@register(
    "q_agg_mode",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS n
      FROM customer GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c_mktsegment, c_nationkey, n,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY n DESC, c_nationkey) AS rn
      FROM counts
    )
    SELECT c_mktsegment, c_nationkey AS mode_nation, n AS n_customers
    FROM ranked WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most frequent nation per market
    segment, smallest-key tiebreak (Spark's and DuckDB's native mode()
    both break ties arbitrarily, so the engine spells the ranking out —
    the hash-stability rule for any 'pick one of equals' operator).

    Scale: count-then-rank is two map-side-combinable steps; the window
    sees one row per (segment, nation) — group cardinality, not row
    cardinality.
    """
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), F.asc("c_nationkey")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").alias("mode_nation"),
            F.col("n").alias("n_customers"),
        )
    )
