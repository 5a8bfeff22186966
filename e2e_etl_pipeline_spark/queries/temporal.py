"""Temporal / incremental operators beyond the SURVEY.md §2 core: as-of
join, gap-filled calendar rollup, hypertable-style two-level rollup, MERGE
upsert, and the classic top-k-over-join-agg shape.

These are the time-series and warehouse-maintenance operations a user of a
complete analytics engine reaches for next (TimescaleDB's continuous
aggregates, kdb's aj, Delta/Iceberg MERGE) — none exist in the reference
(its only temporal logic is partition-date pathing, config.py:81-99), so
they generalize the same seeds as B.4/B.9.

Scale notes are per-query; the common theme: every shape here is one
key-partitioned shuffle plus window/aggregate — never a range cross-product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions.rounding import stable_round, stable_round_sql
from e2e_etl_pipeline_spark.registry import register


@register(
    "q_join_asof",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      -- Dedupe same-(user, ts) purchases to the max-event_id row: ASOF
      -- picks ambiguously among equal keys, so the tie winner must be
      -- pinned explicitly for cross-engine parity (ties fuzz variant).
      -- value DESC final tiebreak: an all-NULL-event_id tie group
      -- (pk-variant shape) is otherwise unpinned in both engines; value
      -- is the only payload the carry exposes (round-7 advice).
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC, value DESC) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    )
    -- NULL-ts clicks are matched EXPLICITLY to nothing: SQL says
    -- NULL >= ts is UNKNOWN (no match), and the engine implements that,
    -- but DuckDB's ASOF sort puts NULL after every timestamp and happily
    -- matches the user's LATEST purchase (found by the round-7 nulls
    -- battery) — so they are split out of the ASOF and unioned back with
    -- NULL annotations, making the no-match contract true by construction.
    SELECT
      c.event_id,
      c.user_id,
      p.value AS last_purchase_value,
      CAST(floor(epoch(c.ts)) - floor(epoch(p.ts)) AS BIGINT) AS gap_seconds
    FROM (SELECT * FROM clicks WHERE ts IS NOT NULL) c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    UNION ALL
    SELECT event_id, user_id,
           CAST(NULL AS DOUBLE) AS last_purchase_value,
           CAST(NULL AS BIGINT) AS gap_seconds
    FROM clicks WHERE ts IS NULL
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click annotated with the user's most recent
    purchase at-or-before it (kdb aj / DuckDB ASOF JOIN semantics; the
    oracle literally uses ASOF LEFT JOIN).

    Spark lacks a native as-of join; the scale-safe formulation is NOT a
    range join (quadratic per user) but union-then-window: tag purchase
    rows, sort once per user, and carry the last non-null purchase forward
    with last(ignorenulls) over an unbounded-preceding frame. One shuffle
    on user_id, linear scan per partition — the same shape Flink's
    event-time join and pandas merge_asof use.

    Tie contract (ties fuzz variant — a regenerated testdata could drop
    ts precision, as it already did once, nanos→micros): at a
    click/purchase tie the purchase sorts FIRST (ASOF's >= includes it),
    and among equal-(user, ts) purchases the max event_id wins — the
    oracle dedupes to the same winner because ASOF itself is ambiguous
    on equal keys.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    # Carry (ts, value) as ONE struct: with separate columns a purchase
    # whose value is NULL would be skipped by last(ignorenulls) for the
    # value while its ts still won — last_purchase_value would come from an
    # OLDER purchase than last_purchase_ts. The struct is non-null for
    # every purchase row, so the latest purchase wins as a unit (its value
    # may legitimately be NULL, exactly as ASOF JOIN returns it).
    # ts.isNotNull(): a NULL-ts purchase can never satisfy the oracle's
    # ASOF predicate (c.ts >= NULL), so it must not enter the carry-forward
    # either — without the guard its struct is non-null and last() would
    # surface a purchase ASOF JOIN cannot match.
    # user_id.isNotNull(): ASOF's equality key never matches NULL = NULL,
    # so a NULL-user purchase matches NO click — but Spark's window groups
    # all NULL-user rows into ONE partition, where an unmasked purchase
    # would be carried into NULL-user clicks (nulls fuzz variant, round 4).
    tagged = ev.withColumn(
        "p",
        F.when(
            (F.col("event_type") == "purchase")
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull(),
            F.struct(F.col("ts").alias("ts"), F.col("value").alias("value")),
        ),
    )
    # NULLS FIRST here is DELIBERATE (not the family's NULLS LAST pin): a
    # NULL-ts click can never satisfy the oracle's ASOF predicate
    # (c.ts >= NULL), so it must sort BEFORE every purchase and receive
    # no carry-forward — Spark's ASC default already does that. Within a
    # ts tie: purchases first (ASOF's >= lets a same-second click see the
    # purchase), then event_id, so the LAST purchase of a tie group — the
    # max event_id, the oracle's pinned winner — is what last() carries.
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.asc_nulls_first("ts"),
            F.asc(F.col("p").isNull()),  # purchases before same-ts clicks
            F.asc("event_id"),
            # all-NULL-id tie groups pin on value (oracle: value DESC
            # NULLS LAST ↔ ASC NULLS FIRST here — round-7 advice)
            F.asc_nulls_first("value"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = (
        tagged.withColumn("last_p", F.last("p", ignorenulls=True).over(w))
        .withColumn("last_purchase_value", F.col("last_p.value"))
        .withColumn("last_purchase_ts", F.col("last_p.ts"))
    )
    return enriched.where(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.col("last_purchase_value").alias("last_purchase_value"),
        (
            F.floor(F.col("ts").cast("double"))
            - F.floor(F.col("last_purchase_ts").cast("double"))
        )
        .cast("long")
        .alias("gap_seconds"),
    )


@register(
    "q_rollup_hypertable",
    oracle="""
    SELECT
      CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      event_type,
      count(*) AS n_events,
      CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the DAILY aggregate is
    computed FROM the HOURLY aggregate, not from raw events — the pattern
    that makes 100 TB time-series maintainable (store hour partials, serve
    any coarser grain by re-aggregating ~24× fewer rows; TimescaleDB
    continuous aggregates / Druid rollup). Counts and DECIMAL sums are
    reaggregable partials, so the result is bit-identical to a direct
    daily aggregate — which is exactly what the oracle computes.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value_dec"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value_dec"), 2).cast("double").alias("sum_value"),
        )
        .select("day", "event_type", "n_events", "sum_value")
    )


@register(
    "q_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events)
    SELECT s.day, t.event_type, coalesce(d.n, 0) AS n_events
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily rollup: every (day, event_type) cell in the table's
    own date range appears, missing days as 0 (time-series dashboards break
    on absent rows; Timescale's time_bucket_gapfill).

    The date spine derives from a 1-row min/max aggregate exploded via
    sequence() — days × types is dashboard-grain tiny at ANY corpus scale,
    so the spine side broadcasts and the only real work is the map-side-
    combinable daily aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.col("ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    types = ev.select("event_type").distinct()
    return (
        spine.crossJoin(types)
        .join(daily, ["day", "event_type"], "left")
        .select(
            "day", "event_type", F.coalesce(F.col("n"), F.lit(0)).alias("n_events")
        )
    )


@register(
    "q_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 <> 0
    ),
    changes AS (
      SELECT o_orderkey,
             CAST(round(CAST(o_totalprice AS DECIMAL(12,2))
                        * CAST(1.1 AS DECIMAL(3,2)), 2) AS DOUBLE) AS new_price
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT
      coalesce(b.o_orderkey, c.o_orderkey)      AS o_orderkey,
      coalesce(c.new_price, b.o_totalprice)     AS total_price,
      CASE WHEN b.o_orderkey IS NULL THEN 'inserted'
           WHEN c.o_orderkey IS NULL THEN 'unchanged'
           ELSE 'updated' END                   AS action
    FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
    """,
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics (Delta/Iceberg MERGE INTO) as a full outer
    join: rows only in the change set are inserts, overlapping keys take
    the change's value, the rest pass through unchanged — with an explicit
    per-row action column (the audit output a CDC pipeline emits).

    Both sides derive deterministically from orders (keys mod 3 / mod 2)
    so the oracle can state the exact expected merge. One key-partitioned
    shuffle; at scale the change set is typically < 1% of base, and AQE
    broadcast-joins it. Price math goes through DECIMAL before rounding
    (hash-stability rule).
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("b_key"),
        "o_totalprice",
        "o_orderstatus",
    )
    changes = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("c_key"),
        F.round(
            F.col("o_totalprice").cast("decimal(12,2)")
            * F.lit("1.1").cast("decimal(3,2)"),
            2,
        )
        .cast("double")
        .alias("new_price"),
    )
    merged = base.join(changes, base.b_key == changes.c_key, "full_outer")
    return merged.select(
        F.coalesce("b_key", "c_key").alias("o_orderkey"),
        F.coalesce("new_price", "o_totalprice").alias("total_price"),
        F.when(F.col("b_key").isNull(), F.lit("inserted"))
        .when(F.col("c_key").isNull(), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
        .alias("action"),
    )


@register(
    "q_topk_join_agg",
    oracle="""
    SELECT
      l.l_orderkey,
      CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
           AS DOUBLE)                            AS revenue,
      CAST(o.o_orderdate AS TIMESTAMP)           AS o_orderdate,
      o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_topk_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 highest-revenue unshipped orders for one
    market segment — filter → 3-way join → aggregate → global top-k.

    Both date filters push to the parquet scans; customer is unhinted
    (AQE broadcasts while it fits — forced hints OOM at scale, see
    q_join_star); the LIMIT rides TakeOrderedAndProject so no partition
    ever materializes a full sort. Ordering carries l_orderkey as the
    unique tiebreaker (hash-stability rule).
    """
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    revenue = F.round(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        ),
        2,
    ).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
    )


@register(
    "q_histogram",
    oracle="""
    SELECT
      CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
      count(*) AS n_orders,
      CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS bucket_min,
      CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS bucket_max
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (50k buckets): the profiling
    primitive behind data-quality dashboards. Pure map-side-combinable
    aggregation on a derived key — identical double division feeds floor()
    in both engines, so bucket assignment cannot diverge.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # min/max in DECIMAL(12,2) (cast at source, the repo money
            # discipline) — round() on an off-grid double differs between
            # engines (DuckDB 1.0050000000000001 -> 1.0, Spark -> 1.01)
            F.min(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("bucket_min"),
            F.max(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("bucket_max"),
        )
    )


@register(
    "q_funnel",
    oracle="""
    WITH per_user AS (
      SELECT
        user_id,
        min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
        min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
        min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
        min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT
      count(*) FILTER (t_signup IS NOT NULL)               AS n_signup,
      count(*) FILTER (t_signup IS NOT NULL
                       AND t_view > t_signup)              AS n_view,
      count(*) FILTER (t_signup IS NOT NULL
                       AND t_view > t_signup
                       AND t_click > t_view)               AS n_click,
      count(*) FILTER (t_signup IS NOT NULL
                       AND t_view > t_signup
                       AND t_click > t_view
                       AND t_purchase > t_click)           AS n_purchase
    FROM per_user
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup→view→click→purchase, counted on
    the strict ordering of each user's FIRST occurrence of every stage
    (the standard first-touch funnel definition — deterministic, and
    computable in ONE aggregation).

    One shuffle on user_id: the per-type min timestamps are conditional
    aggregates in a single groupBy, and stage membership is a pure row
    expression over those mins. The alternative "min event after the
    previous stage's min" definition needs one pass per stage (4 chained
    self-joins) — at 100 TB that's 4 shuffles for marginally different
    semantics.
    """
    ev = load_table(spark, sf_dir, "events")

    def first(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts"))).alias(f"t_{t}")

    per_user = ev.groupBy("user_id").agg(
        first("signup"), first("view"), first("click"), first("purchase")
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_view") > F.col("t_signup"))
    s3 = s2 & (F.col("t_click") > F.col("t_view"))
    s4 = s3 & (F.col("t_purchase") > F.col("t_click"))
    # count(when(cond, 1)) == SQL's count FILTER: 0 on empty/all-NULL
    # input, where sum(cast) would return NULL and split from the oracle.
    return per_user.agg(
        F.count(F.when(s1, 1)).alias("n_signup"),
        F.count(F.when(s2, 1)).alias("n_view"),
        F.count(F.when(s3, 1)).alias("n_click"),
        F.count(F.when(s4, 1)).alias("n_purchase"),
    )


@register(
    "q_retention_cohort",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    )
    SELECT
      c.cohort_day,
      date_diff('day', c.cohort_day, a.day) AS offset_days,
      count(*)                              AS n_active
    FROM activity a JOIN cohorts c USING (user_id)
    WHERE date_diff('day', c.cohort_day, a.day) BETWEEN 0 AND 7
    GROUP BY 1, 2
    """,
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted
    active again at day offsets 0–7 — the engagement table behind every
    retention curve.

    Two map-side-combinable aggregates (cohort per user, distinct active
    days per user) joined on user_id: the join is between two
    already-reduced per-user tables, orders of magnitude smaller than the
    raw events, and AQE broadcasts the cohort side while it fits. The
    day-offset window (0–7) bounds output to cohorts×8 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    j = activity.join(cohorts, "user_id").withColumn(
        "offset_days", F.datediff("day", "cohort_day")
    )
    return (
        j.where(F.col("offset_days").between(0, 7))
        .groupBy("cohort_day", "offset_days")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "q_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)
    ),
    islands AS (
      SELECT *,
        sum(is_new) OVER (PARTITION BY user_id
                          ORDER BY ts NULLS LAST, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    ),
    firsts AS (
      SELECT user_id, session_no,
        first(event_type ORDER BY ts NULLS LAST, event_id) AS first_touch
      FROM islands GROUP BY user_id, session_no
    )
    SELECT f.first_touch, count(*) AS n_purchases
    FROM islands i
    -- IS NOT DISTINCT FROM, not USING: window PARTITION BY groups NULL
    -- user_ids into one pseudo-user on BOTH engines (matching the Spark
    -- side), but a plain equality join would silently drop every
    -- NULL-user purchase here (nulls fuzz variant, round 4).
    JOIN firsts f
      ON i.user_id IS NOT DISTINCT FROM f.user_id
     AND i.session_no = f.session_no
    WHERE i.event_type = 'purchase'
    GROUP BY f.first_touch
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase is credited to the event
    type that OPENED its 30-minute-gap session — the marketing-analytics
    twin of sessionization (q_stream_session), asking not "how many
    sessions" but "which entry point converts".

    Scale: one shuffle on user_id serves the lag, the island numbering,
    and the first-touch window (same partitioning, Spark reuses the sort);
    the final attribution count is group-cardinality-sized. The unique
    (ts, event_id) order makes session boundaries and first-touch picks
    identical on any engine or partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    # asc_nulls_last pins Spark's NULLS FIRST default to DuckDB's window
    # default, so a NULL ts in regenerated testdata cannot diverge session
    # boundaries (the round-3 windows.py fix, applied family-wide).
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    lagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                > 30 * 60
            ),
            1,
        ).otherwise(0),
    )
    islands = lagged.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w_sess = Window.partitionBy("user_id", "session_no").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    touched = islands.withColumn(
        "first_touch", F.first("event_type").over(w_sess)
    )
    return (
        touched.where(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


@register(
    "q_running_distinct",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    per_day AS (
      SELECT first_day AS day, count(*) AS new_users
      FROM firsts
      WHERE first_day IS NOT NULL  -- all-NULL-ts users have no first day
      GROUP BY first_day
    )
    SELECT
      day,
      new_users,
      CAST(sum(new_users) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM per_day
    """,
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the user-growth curve. A naive
    running COUNT(DISTINCT) over an expanding window rescans all history
    per day; the engine rewrites it as 'distinct = sum of first
    occurrences': each user's first-seen day is one map-side-combinable
    aggregate, daily news another, and the running sum then runs over
    day-cardinality rows (a ~handful per month — the single-partition
    window is over the CALENDAR, not the data).
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    per_day = (
        firsts.where(F.col("day").isNotNull())
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.withColumn("cum_users", F.sum("new_users").over(w))


@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT
        user_id,
        event_type,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts NULLS LAST, event_id)
          AS prev_type
      FROM events
    )
    SELECT
      prev_type,
      event_type AS next_type,
      count(*) AS n_trans,
      round(CAST(count(*) AS DOUBLE)
            / sum(count(*)) OVER (PARTITION BY prev_type), 4) AS p_trans
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for each (prev_type, next_type) pair, the transition count and the
    row-normalized probability — the standard building block for journey
    mining and next-event prediction features.

    Scale: one lag window partitioned by user_id (the same shuffle any
    sessionization pays; skew bounded by events-per-user), then a
    partial-agg'd groupBy down to |event_type|² rows; the normalizing
    window runs on that tiny matrix, not the event stream. Ordering ties
    on ts are broken by event_id so the lag is deterministic.
    
    NOTE: the graph family (queries/graph.py) derives its edge lists from
    the same per-user lag construction, factored there as _SEQ_CTE /
    _transition_seq — a semantic change to transition ordering must be
    mirrored in both places (this key additionally carries user_id and
    row-normalized probabilities, so it keeps its own CTE text).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    w_row = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.sum("n_trans").over(w_row), 4
        ).alias("p_trans"),
    )


@register(
    "q_time_weighted_avg",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(value AS DECIMAL(12,2)) AS v,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             lead(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id
                     ORDER BY ts NULLS LAST, event_id) AS nt
      FROM events
    )
    SELECT user_id,
           count(*) AS n_intervals,
           round(CAST(sum(v * (nt - t)) AS DOUBLE) / sum(nt - t), 4) AS twap
    FROM s
    WHERE nt IS NOT NULL
    GROUP BY user_id
    HAVING sum(nt - t) > 0
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user: each observation is
    weighted by how long it remained current (seconds until the user's
    next event; the open-ended last observation is excluded). TWAP is the
    standard temporal aggregate wherever sampling is irregular — sensor
    rollups, price feeds, utilization metering — and a plain avg() is
    simply wrong there.

    Determinism: epochs floor to whole seconds in both engines (Spark's
    ts→long cast floors; the oracle floors epoch() explicitly — BASELINE
    gotcha), weights are exact bigints, values snap to DECIMAL before the
    weighted sum, and ordering ties break on event_id.

    Scale: one shuffle on user_id feeds the lead() window; the weighted
    sums partial-aggregate on the SAME partitioning (no second exchange).
    Degenerate all-same-second users are dropped by the sum(dt) > 0 guard
    rather than dividing by zero."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    t = F.col("ts").cast("long")
    s = ev.select(
        "user_id",
        F.col("value").cast("decimal(12,2)").alias("v"),
        t.alias("t"),
        F.lead(t).over(w).alias("nt"),
    ).filter(F.col("nt").isNotNull())
    dt = F.col("nt") - F.col("t")
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.round(
                F.sum(F.col("v") * dt).cast("double") / F.sum(dt), 4
            ).alias("twap"),
            F.sum(dt).alias("_sdt"),
        )
        .filter(F.col("_sdt") > 0)
        .drop("_sdt")
    )


@register(
    "q_incremental_agg",
    oracle="""
    SELECT
      CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
      CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)
        AS revenue,
      count(*) AS n_items
    FROM lineitem
    GROUP BY 1
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for an additive rollup: the monthly
    revenue materialization is built as base partial (history slice) +
    delta partial (new arrivals since the cutoff), merged by summing
    partials — the pattern that turns a 100 TB nightly recompute into a
    touch-only-the-new-partition update. The oracle recomputes from
    scratch, so the gate proves partial-merge == full-recompute.

    Scale: each slice partial-aggregates map-side on its own scan (the
    cutoff predicate pushes into both); the merge shuffles |months| × 2
    partial rows, not facts. Works for any commutative-monoid aggregate
    (sum/count/min/max, sketches); averages must ship (sum, count) pairs
    — which is why the partials here carry counts, not means."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("2001-01-01").cast("timestamp")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )

    def partial(slice_df: DataFrame) -> DataFrame:
        return slice_df.groupBy(
            F.trunc(F.to_date("l_shipdate"), "month").alias("month")
        ).agg(F.sum(rev).alias("rev_d"), F.count(F.lit(1)).alias("n_items"))

    # NULL shipdates must land in exactly ONE slice (base) — both
    # comparisons are NULL for them, and dropping them from the partials
    # would lose the oracle's NULL-month group.
    base = partial(
        li.filter((F.col("l_shipdate") < cutoff) | F.col("l_shipdate").isNull())
    )
    delta = partial(li.filter(F.col("l_shipdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.round(F.sum("rev_d"), 2).cast("double").alias("revenue"),
            F.sum("n_items").alias("n_items"),
        )
    )


@register(
    "q_ewma",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    f AS (
      SELECT day, n_orders,
             list(n_orders) OVER (ORDER BY day
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS arr
      FROM daily
    )
    SELECT day, n_orders,
           round(
             list_sum(list_transform(arr,
               (x, i) -> CAST(x AS DOUBLE) * power(0.5, len(arr) - i)))
             / (2 - power(0.5, len(arr) - 1)), 4) AS ewma10
    FROM f
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.5) of daily order
    volume over a truncated 10-row tail — the recency-weighted smoother
    behind monitoring baselines and trend features; the truncation makes
    it a pure window expression (no recursive state).

    Determinism: weights are powers of 1/2 — EXACT in binary floating
    point — applied to small integer counts, and the normalizer uses the
    closed-form geometric sum 2 - 2^-(m-1), so both engines compute
    identical doubles before the final round. Frame order (day asc) fixes
    the weight-to-element pairing; Spark's 0-based transform index and
    DuckDB's 1-based one both map the newest row to exponent 0.

    Scale: like q_window_median, the window runs over the pre-aggregated
    daily series, never the fact table; each frame carries ≤ 10 longs."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.orderBy("day").rowsBetween(-9, 0)
    arr = F.collect_list("n_orders").over(w)
    daily = daily.withColumn("arr", arr)
    m = F.size("arr")
    weighted = F.transform(
        F.col("arr"),
        lambda x, i: x.cast("double")
        * F.pow(F.lit(0.5), (m - 1 - i).cast("double")),
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    den = F.lit(2.0) - F.pow(F.lit(0.5), (m - 1).cast("double"))
    return daily.select(
        "day", "n_orders", F.round(num / den, 4).alias("ewma10")
    )


@register(
    "q_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)       AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 600 AS e,
             event_id
      FROM events
      WHERE ts IS NOT NULL  -- an interval needs a start; NULL-ts rows
                            -- would island differently per engine
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  s - 1)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island_id,
             min(s) AS island_start, max(e) AS island_end
      FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           count(*)                              AS n_islands,
           CAST(sum(island_end - island_start) AS BIGINT) AS covered_seconds,
           max(island_end - island_start)        AS longest_seconds
    FROM merged GROUP BY user_id
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: give every event a 10-minute activity interval,
    merge overlapping/touching intervals per user, and report island
    count, covered seconds, and the longest island — the classic
    interval-union problem (uptime stitching, session coverage, sensor
    dead-time) that a naive self-join solves quadratically and a
    running-max window solves in one pass.

    Scale: one shuffle on user_id, two window passes over each user's
    (modest) event list, then two grouped aggregates — linear end to end.
    All arithmetic is whole-second BIGINT (the q_time_weighted_avg epoch
    parity), so both engines agree bit-for-bit. A same-start tie cannot
    split an island (s > max(e) is false for equal starts since e ≥ s),
    so the event_id tiebreak only pins the window order, not the result."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.where(F.col("ts").isNotNull()).select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + 600).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("s"), F.asc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.col("s") - 1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island_id")
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias(
            "covered_seconds"
        ),
        F.max(F.col("island_end") - F.col("island_start")).alias(
            "longest_seconds"
        ),
    )


@register(
    "q_autocorr",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             sum(CAST(value AS DECIMAL(14,2))) AS dv
      FROM events
      WHERE ts IS NOT NULL  -- a NULL day is not a day in the series, and
                            -- its window position is engine/plan-unstable
      GROUP BY 1
    ),
    lagged AS (
      SELECT dv, lag(dv) OVER (ORDER BY day) AS pv
      FROM daily
    ),
    stats AS (
      SELECT count(*)       AS n,
             sum(dv)        AS sx_d,
             sum(pv)        AS sy_d,
             sum(dv * pv)   AS sxy_d,
             sum(dv * dv)   AS sxx_d,
             sum(pv * pv)   AS syy_d
      FROM lagged WHERE pv IS NOT NULL AND dv IS NOT NULL
    )
    SELECT n AS n_pairs,
           round(CAST(n * sxy_d - sx_d * sy_d AS DOUBLE)
                 / nullif(sqrt(CAST(n * sxx_d - sx_d * sx_d AS DOUBLE)
                               * CAST(n * syy_d - sy_d * sy_d AS DOUBLE)),
                          0), 4)
             AS lag1_autocorr
    FROM stats
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily value series: how strongly one
    day's total predicts the next — the first diagnostic of any
    forecasting pipeline (white noise vs trend vs seasonality).

    Scale: the corpus reduces to |days| rows in one grouped aggregate;
    the lag window runs on that tiny series. The single-partition window
    is safe exactly because it is post-reduction.

    Determinism: the correlation derives from exact-DECIMAL sufficient
    statistics — the variance terms n·sxx − sx² are computed IN DECIMAL
    (exactly ≥ 0) and only then cast to double (the q_rolling_corr
    discipline) — because double-side cancellation can go to −7e-15,
    where DuckDB's sqrt RAISES while Spark returns NaN. Engine-native
    corr() additionally merges doubles in partition order and flipped a
    4dp boundary under the NULL-ts fuzz. NULL dv/pv pairs (an all-NULL
    value day) are excluded so n matches the summed pairs.
    NULL-ts rows are excluded on both sides: a NULL day is not part of
    the series, and DuckDB's window placement of a NULL key turned out
    to be plan-dependent (observed both first AND last)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("ts").isNotNull())
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(14,2)")).alias("dv"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "dv", F.lag("dv").over(w).alias("pv")
    ).where(F.col("pv").isNotNull() & F.col("dv").isNotNull())
    stats = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dv").alias("sx_d"),
        F.sum("pv").alias("sy_d"),
        F.sum(F.col("dv") * F.col("pv")).alias("sxy_d"),
        F.sum(F.col("dv") * F.col("dv")).alias("sxx_d"),
        F.sum(F.col("pv") * F.col("pv")).alias("syy_d"),
    )
    n = F.col("n")
    num = (n * F.col("sxy_d") - F.col("sx_d") * F.col("sy_d")).cast("double")
    denx = (n * F.col("sxx_d") - F.col("sx_d") * F.col("sx_d")).cast("double")
    deny = (n * F.col("syy_d") - F.col("sy_d") * F.col("sy_d")).cast("double")
    return stats.select(
        F.col("n").alias("n_pairs"),
        F.round(F.try_divide(num, F.sqrt(denx * deny)), 4).alias(
            "lag1_autocorr"
        ),
    )


@register(
    "q_abtest",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS cohort,
             max(CASE WHEN event_type = 'purchase' AND value > 100
                      THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT cohort,
             count(*)                       AS n_users,
             sum(converted)                 AS n_converted,
             CAST(sum(converted) AS DOUBLE) / count(*) AS conv
      FROM per_user GROUP BY cohort
    ),
    wide AS (
      SELECT
        max(CASE WHEN cohort = 0 THEN n_users END)     AS n_a,
        max(CASE WHEN cohort = 0 THEN n_converted END) AS k_a,
        max(CASE WHEN cohort = 0 THEN conv END)        AS conv_a,
        max(CASE WHEN cohort = 1 THEN n_users END)     AS n_b,
        max(CASE WHEN cohort = 1 THEN n_converted END) AS k_b,
        max(CASE WHEN cohort = 1 THEN conv END)        AS conv_b
      FROM arms
    )
    SELECT n_a, n_b,
           round(conv_a, 6) AS conv_a,
           round(conv_b, 6) AS conv_b,
           round((conv_a - conv_b)
                 / sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 4) AS z_score
    FROM wide
    """,
)
def q_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between the even/odd user cohorts on
    high-value purchase conversion (value > 100; pooled standard error) —
    the experiment-readout primitive every growth pipeline runs. A
    degenerate pooled variance (conversion rate exactly 0 or 1, seen
    under the sparse fuzz variant) yields a NULL z-score in both engines
    (try_divide ≡ DuckDB's NULL-on-zero double division).

    Scale: one per-user aggregate (shuffle on user_id), then arithmetic
    on a 2-row frame; the z statistic is a closed form over exact integer
    counts, so both engines compute identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 100),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("converted")
    ).withColumn("cohort", F.col("user_id") % 2)
    arms = per_user.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("cohort") == 0, F.col("n_converted"))).alias("k_a"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_converted"))).alias("k_b"),
    )
    conv_a = F.col("k_a").cast("double") / F.col("n_a")
    conv_b = F.col("k_b").cast("double") / F.col("n_b")
    pooled = (F.col("k_a") + F.col("k_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    return wide.select(
        "n_a",
        "n_b",
        F.round(conv_a, 6).alias("conv_a"),
        F.round(conv_b, 6).alias("conv_b"),
        F.round(
            # try_divide: a degenerate pooled variance (0 or 1 conversion
            # rate, possible under decimated data) yields NULL, matching
            # DuckDB's NULL-on-zero-division double semantics.
            F.try_divide(
                conv_a - conv_b,
                F.sqrt(
                    pooled
                    * (F.lit(1.0) - pooled)
                    * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
                ),
            ),
            4,
        ).alias("z_score"),
    )


@register(
    "q_funnel_latency",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(floor(epoch(min(CASE WHEN event_type = 'signup'
                                       THEN ts END))) AS BIGINT)  AS t_signup,
             CAST(floor(epoch(min(CASE WHEN event_type = 'purchase'
                                       THEN ts END))) AS BIGINT)  AS t_purchase
      FROM events GROUP BY user_id
    ),
    lat AS (
      SELECT t_purchase - t_signup AS latency_s
      FROM per_user
      WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
        AND t_purchase > t_signup
    )
    SELECT count(*)                                   AS n_users,
           round(avg(latency_s), 4)                   AS avg_latency_s,
           round(quantile_cont(latency_s, 0.5), 4)    AS median_latency_s
    FROM lat
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase latency: time from each user's first signup to
    their first purchase (strictly after it), summarized as mean and
    median seconds — the time-to-convert readout that pairs with
    q_funnel's stage counts.

    Scale: ONE per-user aggregate produces both stage timestamps (no
    funnel self-join); whole-second BIGINT latencies make avg and exact
    percentile engine-identical (q_time_weighted_avg epoch parity)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts").cast("long"))
        ).alias("t_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("long"))
        ).alias("t_purchase"),
    )
    lat = per_user.where(
        F.col("t_signup").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") > F.col("t_signup"))
    ).select((F.col("t_purchase") - F.col("t_signup")).alias("latency_s"))
    return lat.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("latency_s"), 4).alias("avg_latency_s"),
        F.round(F.expr("percentile(latency_s, 0.5)"), 4).alias(
            "median_latency_s"
        ),
    )


@register(
    "q_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
               AS x
      FROM events
      WHERE ts IS NOT NULL  -- NULL day: not in the series; window
                            -- placement of a NULL key is plan-unstable
      GROUP BY 1
    ),
    stats AS (SELECT avg(x) AS mu, count(*) AS n FROM daily),
    cusum AS (
      SELECT day,
             sum(x - (SELECT mu FROM stats)) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM daily
    )
    SELECT day                              AS changepoint_day,
           round(abs(c), 2)                 AS max_abs_cusum,
           (SELECT n FROM stats)            AS n_days
    FROM cusum
    ORDER BY abs(c) DESC, day
    LIMIT 1
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily value series: the day
    where the cumulative deviation from the global mean peaks — the
    standard level-shift locator for ops/revenue monitoring.

    Scale: the corpus reduces to |days| rows first (DECIMAL-exact sums);
    the ordered running window and argmax run on that tiny series, and
    the ordered running sum evaluates left-to-right over the same day
    order in both engines, so the doubles agree bit-for-bit. LIMIT 1
    carries the (abs(c), day) total order."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("x")
    )
    stats = daily.agg(
        F.avg("x").alias("mu"), F.count(F.lit(1)).alias("n_days")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "n_days",
        F.sum(F.col("x") - F.col("mu")).over(w).alias("c"),
    )
    return (
        cusum.orderBy(F.abs(F.col("c")).desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            F.round(F.abs(F.col("c")), 2).alias("max_abs_cusum"),
            "n_days",
        )
    )


@register(
    "q_cohort_ltv",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    purchases AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS DATE)   AS day,
             CAST(value AS DECIMAL(14,2))          AS v
      FROM events WHERE event_type = 'purchase'
    ),
    daily AS (
      SELECT c.cohort_day,
             date_diff('day', c.cohort_day, p.day) AS offset_days,
             sum(p.v)                              AS revenue
      FROM purchases p JOIN cohorts c USING (user_id)
      WHERE date_diff('day', c.cohort_day, p.day) BETWEEN 0 AND 7
      GROUP BY 1, 2
    )
    SELECT cohort_day, offset_days,
           CAST(round(sum(revenue) OVER (
                  PARTITION BY cohort_day ORDER BY offset_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                AS DOUBLE) AS cum_revenue
    FROM daily
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: cumulative purchase revenue per
    first-activity-day cohort across day offsets 0–7 — the money-sided
    companion of q_retention_cohort (does early engagement translate into
    spend, and how fast does each cohort's curve flatten?).

    Scale: same two reduced per-user/per-day aggregates as the retention
    key joined on user_id; the cumulative window runs on cohorts×8 rows.
    Revenue accumulates in exact DECIMAL; doubles appear only after the
    final 2-dp round."""
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.col("value").cast("decimal(14,2)").alias("v"),
    )
    daily = (
        purchases.join(cohorts, "user_id")
        .withColumn("offset_days", F.datediff("day", "cohort_day"))
        .where(F.col("offset_days").between(0, 7))
        .groupBy("cohort_day", "offset_days")
        .agg(F.sum("v").alias("revenue"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("offset_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "cohort_day",
        "offset_days",
        F.round(F.sum("revenue").over(w), 2).cast("double").alias(
            "cum_revenue"
        ),
    )


@register(
    "q_order_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders
    )
    SELECT count(*)                                   AS n_gaps,
           round(avg(gap_days), 4)                    AS avg_gap_days,
           round(quantile_cont(gap_days, 0.5), 4)     AS median_gap_days,
           max(gap_days)                              AS max_gap_days
    FROM gaps WHERE gap_days IS NOT NULL
    """,
)
def q_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap statistics: whole-day gaps between each
    customer's consecutive orders, summarized corpus-wide — the
    repurchase-cadence signal behind churn models ('customer is N× past
    their usual gap').

    Scale: one shuffle on the customer key, one lag window per customer,
    then a global aggregate over |orders| integer gaps; avg and exact
    percentile work on whole-day INTs so both engines agree exactly."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
        ).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
        F.round(F.expr("percentile(gap_days, 0.5)"), 4).alias(
            "median_gap_days"
        ),
        F.max("gap_days").alias("max_gap_days"),
    )


@register(
    "q_percentile_bands",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)   AS day,
           count(*)                                   AS n_events,
           round(quantile_cont(value, 0.1), 4)        AS p10,
           round(quantile_cont(value, 0.5), 4)        AS p50,
           round(quantile_cont(value, 0.9), 4)        AS p90
    FROM events GROUP BY 1
    """,
)
def q_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p10/p50/p90 bands of the event value — the percentile-band
    chart every ops dashboard draws over a latency or spend series
    (means hide the tail; bands don't).

    Scale: one grouped exact-percentile aggregate keyed by day; at
    billions of events per day the documented swap is approx_percentile's
    mergeable t-digest (q_agg_approx_percentile), identical plan shape.
    day is TIMESTAMP on both engines — nullable DATE transport shapes
    split between engines (see q_date_funcs / the registry hash rule)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.expr("percentile(value, 0.1)"), 4).alias("p10"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
    )


@register(
    "q_concurrent_sessions",
    oracle="""
    WITH deltas AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT)       AS t, 1  AS d, event_id
      FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT CAST(floor(epoch(ts)) AS BIGINT) + 600 AS t, -1 AS d, event_id
      FROM events WHERE ts IS NOT NULL
    ),
    swept AS (
      SELECT t,
             sum(d) OVER (ORDER BY t, d DESC, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS live
      FROM deltas
    )
    SELECT CAST(max(live) AS BIGINT)       AS peak_concurrency,
           min(t) FILTER (WHERE live = (SELECT max(live) FROM swept))
                                           AS peak_epoch_s
    FROM swept
    """,
)
def q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the sweep-line algorithm: every event opens a
    10-minute session; +1/-1 deltas at session edges, a running sum over
    the time-ordered deltas, and the maximum is the peak load (plus the
    first second it was reached) — the capacity-planning number a
    max-per-bucket rollup systematically underestimates (sessions
    straddle buckets).

    Determinism: whole-second BIGINT edge times; at an open/close tie the
    open sorts first (d DESC) in both engines, and event_id breaks exact
    ties.

    Scale — day-sharded sweep (fixes the round-3 verdict's
    single-partition running sum): deltas shard on the UTC day, the
    running sum windows PER DAY (parallel), and each shard adds a
    carry-in equal to the sum of all earlier days' deltas. The carry-in
    table is one row per day — the bounded day-level series where an
    unpartitioned window is fine — broadcast back onto the sharded
    stream. The decomposition is exact: prefix-sum(t) = prefix-sum
    within day(t) + total of all prior days. At corpora where a single
    day outgrows a partition, shard on the hour instead — same
    construction, one more digit in the shard key."""
    # NULL-ts events carry no session placement: excluded on both sides
    # (they would otherwise sort NULLS FIRST here vs NULLS LAST in DuckDB
    # and fall out of the day-keyed carry join entirely).
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    opens = ev.select(
        F.col("ts").cast("long").alias("t"), F.lit(1).alias("d"), "event_id"
    )
    closes = ev.select(
        (F.col("ts").cast("long") + 600).alias("t"),
        F.lit(-1).alias("d"),
        "event_id",
    )
    deltas = opens.unionByName(closes).withColumn(
        "day", F.floor(F.col("t") / 86400)
    )
    w_local = (
        Window.partitionBy("day")
        .orderBy(F.asc_nulls_last("t"), F.col("d").desc(), F.asc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = deltas.select(
        "day", "t", F.sum("d").over(w_local).alias("local_live")
    )
    day_totals = deltas.groupBy("day").agg(F.sum("d").alias("day_total"))
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carry = day_totals.select(
        "day",
        F.coalesce(F.sum("day_total").over(w_days), F.lit(0)).alias("carry_in"),
    )
    swept = local.join(F.broadcast(carry), "day").select(
        "t", (F.col("local_live") + F.col("carry_in")).alias("live")
    )
    # Single-pass argmax: max of (live, -t) structs compares live first,
    # then -t — so the struct max IS (peak, -(earliest second at peak)),
    # avoiding a second sweep of the delta stream for the filter.
    best = swept.agg(
        F.max(F.struct(F.col("live"), (-F.col("t")).alias("neg_t"))).alias("b")
    )
    return best.select(
        F.col("b.live").alias("peak_concurrency"),
        (-F.col("b.neg_t")).alias("peak_epoch_s"),
    )


@register(
    "q_event_paths",
    oracle="""
    WITH seq AS (
      SELECT lag(event_type, 2) OVER w AS e1,
             lag(event_type, 1) OVER w AS e2,
             event_type                AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           count(*)                     AS n_paths
    FROM seq WHERE e1 IS NOT NULL
    GROUP BY 1
    ORDER BY n_paths DESC, path
    LIMIT 20
    """,
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step user journeys (the event-level trigram of
    q_event_transitions' bigram matrix) — the path-mining readout behind
    'what do users do right before purchasing?'.

    Scale: one user-keyed window produces both lags in one pass; paths
    reduce via partial agg to ≤|event_type|³ rows before the global
    top-k (TakeOrderedAndProject); the LIMIT carries the (count, path)
    unique total order."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    seq = ev.select(
        F.lag("event_type", 2).over(w).alias("e1"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.col("event_type").alias("e3"),
    ).where(F.col("e1").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(20)
    )


@register(
    "q_seasonality_dow",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE)       AS day,
             sum(CAST(value AS DECIMAL(14,2)))         AS day_value
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT CAST(sum(day_value) AS DOUBLE) / NULLIF(count(day_value), 0)
               AS overall
      FROM daily
    )
    SELECT CAST(isodow(day) AS INTEGER)                 AS dow,
           count(*)                                     AS n_days,
           round(CAST(sum(day_value) AS DOUBLE) / NULLIF(count(day_value), 0), 2)
                                                        AS avg_value,
           round((CAST(sum(day_value) AS DOUBLE) / NULLIF(count(day_value), 0))
                 / NULLIF((SELECT overall FROM stats), 0), 4)
                                                        AS seasonality_idx
    FROM daily GROUP BY 1
    """,
)
def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: each weekday's average daily
    value as an index against the overall daily mean (>1 = above-trend
    weekday) — the first decomposition every forecasting/capacity model
    starts from. ISO day-of-week (Mon=1..Sun=7) on both engines: Spark's
    ``dayofweek`` is Sun=1, so the engine maps through the ISO formula.

    Scale: the corpus reduces to |days| rows once (DECIMAL-exact); the
    weekday profile and index run on that tiny series with the 1-row
    overall mean broadcast."""
    ev = load_table(spark, sf_dir, "events")
    # day_value stays an EXACT decimal; averages are computed as
    # cast(sum AS double) / count in BOTH engines so the division operates
    # on identical inputs — engine-native avg() over doubles accumulates in
    # engine-specific order and can flip a .xx5 rounding boundary.
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(14,2)")).alias("day_value")
    )
    # NULLIF divisors (both engines): ANSI Spark raises DIVIDE_BY_ZERO even
    # for doubles, and exact daily sums of signed values can cancel the
    # overall mean to exactly 0 — x / NULL is NULL, never an error.
    stats = daily.agg(
        (
            F.sum("day_value").cast("double")
            / F.nullif(F.count("day_value"), F.lit(0))
        ).alias("overall")
    )
    avg_val = F.sum("day_value").cast("double") / F.nullif(
        F.count("day_value"), F.lit(0)
    )
    # ISO dow: Spark dayofweek is Sun=1..Sat=7 → ((dow + 5) % 7) + 1.
    iso_dow = ((F.dayofweek("day") + 5) % 7 + 1).cast("int")
    return (
        daily.crossJoin(F.broadcast(stats))
        .groupBy(iso_dow.alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(avg_val, 2).alias("avg_value"),
            F.round(
                avg_val / F.nullif(F.first("overall"), F.lit(0.0)), 4
            ).alias("seasonality_idx"),
        )
    )


@register(
    "q_market_basket",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    singles AS (
      SELECT event_type, count(*) AS n FROM baskets GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*)     AS n_both
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    total AS (SELECT count(DISTINCT user_id) AS n_users FROM baskets)
    SELECT p.type_a, p.type_b, p.n_both,
           round(CAST(p.n_both AS DOUBLE)
                 / (sa.n + sb.n - p.n_both), 4)            AS jaccard,
           round(CAST(p.n_both AS DOUBLE) * (SELECT n_users FROM total)
                 / (CAST(sa.n AS DOUBLE) * sb.n), 4)       AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    """,
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association between event types: pair support,
    user-set Jaccard, and lift P(a∧b)/(P(a)·P(b)) — the
    co-occurrence/affinity primitive behind recommenders and
    cross-feature analysis.

    Scale: baskets reduce to distinct (user, type) first; the pair join
    is an inverted-index self-join keyed on user — candidate volume is
    Σ_user |types|², bounded by the small per-user type alphabet, never
    |users|². Singles and the user total broadcast back over the
    |types|²-row pair table."""
    ev = load_table(spark, sf_dir, "events")
    baskets = ev.select("user_id", "event_type").distinct()
    singles = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.select("user_id", F.col("event_type").alias("type_a"))
    b = baskets.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    total = baskets.agg(F.countDistinct("user_id").alias("n_users"))
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("na")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("nb")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(total))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                4,
            ).alias("jaccard"),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_users")
                / (F.col("na").cast("double") * F.col("nb")),
                4,
            ).alias("lift"),
        )
    )


@register(
    "q_survival_km",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'
                      THEN CAST(date_trunc('day', ts) AS DATE) END) AS s,
             max(CAST(date_trunc('day', ts) AS DATE))               AS last_day
      FROM events GROUP BY user_id
    ),
    pp AS (
      SELECT e.user_id,
             min(CAST(date_trunc('day', e.ts) AS DATE)) AS p
      FROM events e JOIN pu ON pu.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(date_trunc('day', e.ts) AS DATE) >= pu.s
      GROUP BY e.user_id
    ),
    obs AS (
      SELECT CASE WHEN pp.p IS NOT NULL
                  THEN date_diff('day', pu.s, pp.p)
                  ELSE date_diff('day', pu.s, pu.last_day) END AS t,
             CASE WHEN pp.p IS NOT NULL THEN 1 ELSE 0 END      AS ev
      FROM pu LEFT JOIN pp USING (user_id)
      WHERE pu.s IS NOT NULL
    ),
    days AS (SELECT t, sum(ev) AS d, count(*) AS exits FROM obs GROUP BY t),
    risk AS (
      SELECT t, d,
             (SELECT count(*) FROM obs)
             - coalesce(sum(exits) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM days
    )
    SELECT CAST(t AS BIGINT)       AS t,
           CAST(n_risk AS BIGINT)  AS n_risk,
           CAST(d AS BIGINT)       AS n_events,
           CASE WHEN sum(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                THEN 0.0
                ELSE round(exp(sum(ln(nullif(1.0 - CAST(d AS DOUBLE) / n_risk, 0.0)))
                       OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
           END AS survival
    FROM risk
    WHERE n_risk > 0 AND t BETWEEN 0 AND 7
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup→purchase conversion:
    per-day at-risk counts, conversion events, and the product-limit
    estimate S(t) = Π(1 − dᵢ/nᵢ), with non-converting users
    right-censored at their last observed day — the time-to-event
    estimator a naive conversion rate cannot replace (it throws away
    censoring).

    Determinism: exits and events are integer counts on whole-day
    offsets; the cumulative product runs as exp of an ordered ln-sum on
    identical doubles in both engines (the q_changepoint ordered-window
    parity), with an explicit zero-factor guard so S drops to exactly 0
    if every remaining at-risk user converts. Scale: events reduce to
    one row per user, then |days| rows; every window is post-reduction."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.to_date("ts"))
        ).alias("s"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    pp = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("day"))
        .join(pu.select("user_id", "s"), "user_id")
        .where(F.col("day") >= F.col("s"))
        .groupBy("user_id")
        .agg(F.min("day").alias("p"))
    )
    obs = (
        pu.join(pp, "user_id", "left")
        .where(F.col("s").isNotNull())
        .select(
            F.datediff(F.coalesce("p", "last_day"), F.col("s")).alias("t"),
            F.when(F.col("p").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    days = obs.groupBy("t").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("exits")
    )
    total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        days.crossJoin(F.broadcast(total))
        .select(
            "t",
            "d",
            (
                F.col("n_total")
                - F.coalesce(F.sum("exits").over(w_prev), F.lit(0))
            ).alias("n_risk"),
        )
        .where((F.col("n_risk") > 0) & F.col("t").between(0, 7))
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    dead = F.sum(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum)
    ln_sum = F.sum(
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"))
    ).over(w_cum)
    return risk.select(
        F.col("t").cast("bigint").alias("t"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.when(dead > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(ln_sum), 4))
        .alias("survival"),
    )


@register(
    "q_sessionize",
    oracle="""
    WITH marked AS (
      SELECT
        user_id, ts, event_type,
        event_id,
        CASE
          WHEN lag(ts) OVER w IS NULL
            OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
          THEN 1 ELSE 0
        END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)
    ),
    sess AS (
      SELECT
        user_id, ts, event_type,
        SUM(is_new) OVER (
          PARTITION BY user_id ORDER BY ts NULLS LAST, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_seq
      FROM marked
    )
    SELECT
      user_id,
      CAST(session_seq AS BIGINT) AS session_seq,
      CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
      COUNT(*) AS n_events,
      CAST(floor(epoch(MAX(ts))) - floor(epoch(MIN(ts))) AS BIGINT)
        AS duration_seconds,
      COUNT(DISTINCT event_type) AS n_event_types
    FROM sess
    GROUP BY user_id, session_seq
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into sessions
    at >30-minute inactivity gaps, then profile every session (start,
    length, duration, event-type variety).

    The batch twin of q_stream_session (B.9's session window): identical
    gap semantics, expressed as the classic lag-then-prefix-sum — mark a
    row as a session opener when its gap to the previous event exceeds the
    timeout, and the running sum of openers IS the per-user session id.
    One shuffle on user_id, two linear window scans over the same sort, one
    hash aggregate on (user_id, session_seq) that AQE coalesces — no
    range self-join, no per-session subquery, so the shape is
    O(events log events_per_user) at any corpus size and the 30-minute
    timeout never becomes a cross-product. Per-user timestamps are unique
    (TESTDATA microsecond-random), so the sort — and therefore lag() — is
    deterministic in both engines. Epochs are floored to whole seconds
    before differencing so the two engines' sub-second representations
    cannot diverge (same rule as q_join_asof).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    # asc_nulls_last pins Spark's NULLS FIRST default to DuckDB's window
    # default (family-wide rule; see q_attribution). The event_id tiebreak
    # matters exactly for NULL-ts TIE GROUPS: only the first row of the
    # group inherits a non-NULL lag and joins the previous session, so an
    # unpinned tie order made that session's n_event_types nondeterministic.
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    gap = F.floor(F.col("ts").cast("double")) - F.floor(
        F.lag("ts").over(w).cast("double")
    )
    marked = ev.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.floor(F.min("ts").cast("double")).cast("long").alias("session_start_epoch"),
        F.count(F.lit(1)).alias("n_events"),
        (F.floor(F.max("ts").cast("double")) - F.floor(F.min("ts").cast("double")))
        .cast("long")
        .alias("duration_seconds"),
        F.countDistinct("event_type").alias("n_event_types"),
    )


@register(
    "q_pareto_topshare",
    oracle="""
    WITH spend AS (
      SELECT c.c_nationkey, o.o_custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    ranked AS (
      SELECT c_nationkey, o_custkey, spend,
             SUM(spend) OVER (
               PARTITION BY c_nationkey
               ORDER BY spend DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             SUM(spend) OVER (PARTITION BY c_nationkey) AS total,
             COUNT(*)  OVER (PARTITION BY c_nationkey) AS n_customers
      FROM spend
    )
    SELECT
      c_nationkey,
      CAST(count(*) AS BIGINT)        AS n_top,
      CAST(max(n_customers) AS BIGINT) AS n_customers,
      round(CAST(max(cum) AS DOUBLE) / CAST(max(total) AS DOUBLE), 4)
        AS covered_share
    FROM ranked
    WHERE cum - spend < CAST(0.8 AS DECIMAL(18,2)) * total
    GROUP BY c_nationkey
    """,
)
def q_pareto_topshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: per nation, the smallest customer set whose
    cumulative spend covers ≥ 80% of revenue — how concentrated is the
    business (the 80/20 question), asked exactly.

    Shape: one join-agg to per-customer spend, then ONE nation-partitioned
    window sort carrying cumulative and total spend together; the
    "smallest covering set" is the rows whose cumulative sum BEFORE them
    is still under the threshold (cum − spend < 0.8·total), so the
    crossing row is included and the set is minimal without a second
    pass or a loop. Cumulative money runs in DECIMAL end-to-end — the
    threshold comparison is exact in both engines, so boundary rows
    cannot flip between Spark and the oracle (hash-stability rule,
    registry.py). Per-nation ordering ties break on o_custkey. Scale:
    shuffle on (nation, customer) for the agg, then |customers|-row
    windows per nation — never the orders fact twice.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
    )
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("spend").desc(), F.col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("c_nationkey")
    ranked = spend.select(
        "c_nationkey",
        "o_custkey",
        "spend",
        F.sum("spend").over(w).alias("cum"),
        F.sum("spend").over(wp).alias("total"),
        F.count(F.lit(1)).over(wp).alias("n_customers"),
    )
    kept = ranked.where(
        F.col("cum") - F.col("spend")
        < F.lit("0.8").cast("decimal(18,2)") * F.col("total")
    )
    return kept.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_top"),
        F.max("n_customers").cast("bigint").alias("n_customers"),
        F.round(
            F.max("cum").cast("double") / F.max("total").cast("double"), 4
        ).alias("covered_share"),
    )


@register(
    "q_ks_test",
    oracle=f"""
    WITH pts AS (
      SELECT value,
             count(*) FILTER (WHERE user_id % 2 = 0) AS na,
             count(*) FILTER (WHERE user_id % 2 = 1) AS nb
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY value
    ),
    tot AS (
      SELECT CAST(sum(na) AS DOUBLE) AS t_a, CAST(sum(nb) AS DOUBLE) AS t_b
      FROM pts
    ),
    cum AS (
      SELECT sum(na) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum_na,
             sum(nb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum_nb
      FROM pts
    )
    SELECT CAST(t.t_a AS BIGINT)  AS n_a,
           CAST(t.t_b AS BIGINT)  AS n_b,
           {stable_round_sql(
               "max(abs(cum_na / nullif(t.t_a, 0.0) - cum_nb / nullif(t.t_b, 0.0)))", 6
           )} AS ks_stat
    FROM cum CROSS JOIN tot t
    GROUP BY t.t_a, t.t_b
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the even-user and
    odd-user value distributions — the classic distribution-drift detector
    a data pipeline runs between snapshots or cohorts (complements
    q_abtest's mean-level z-test: KS sees shape changes a mean test
    misses).

    Determinism: every input to the statistic is an exact integer count;
    the ECDF ratios divide identical integers by identical totals, and the
    final MAX is order-independent — no float-accumulation hazard anywhere
    (the reason KS is oracle-exact where a PSI-style sum of logs would
    not be). A cohort with zero rows yields a NULL statistic on both
    engines (try_divide/nullif), never an ANSI divide error.

    Scale: per-value cohort counts are one partial-agg'd shuffle; the
    cumulative counts run through operators/ranks.distributed_cumsum —
    frozen range exchange + per-partition window + P-row prefix offsets —
    so no stage ever funnels the distinct-value set through one
    partition (the q_ntile_bins discipline applied to running sums)."""
    from e2e_etl_pipeline_spark.operators.ranks import distributed_cumsum

    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    pts = e.groupBy("value").agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("na"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("nb"),
    )
    cum = distributed_cumsum(pts, ["value"], {"cum_na": "na", "cum_nb": "nb"})
    tot = pts.agg(
        F.sum("na").cast("double").alias("t_a"),
        F.sum("nb").cast("double").alias("t_b"),
    )
    diff = F.abs(
        F.try_divide(F.col("cum_na"), F.nullif(F.col("t_a"), F.lit(0.0)))
        - F.try_divide(F.col("cum_nb"), F.nullif(F.col("t_b"), F.lit(0.0)))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("t_a", "t_b")
        .agg(stable_round(F.max(diff), 6).alias("ks_stat"))
        .select(
            F.col("t_a").cast("bigint").alias("n_a"),
            F.col("t_b").cast("bigint").alias("n_b"),
            "ks_stat",
        )
    )


@register(
    "q_mannwhitney",
    oracle="""
    WITH pts AS (
      SELECT value,
             count(*) FILTER (WHERE user_id % 2 = 0) AS na,
             count(*) FILTER (WHERE user_id % 2 = 1) AS nb
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY value
    ),
    cum AS (
      SELECT na, nb,
             sum(na + nb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
               AS cum_all
      FROM pts
    ),
    tot AS (
      SELECT CAST(sum(na) AS BIGINT) AS t_a, CAST(sum(nb) AS BIGINT) AS t_b
      FROM pts
    )
    SELECT t.t_a AS n_a, t.t_b AS n_b,
           -- midrank of a tied run ending at cum_all with na+nb members:
           -- (first + last)/2 = cum_all - (na+nb-1)/2; summed once per
           -- A-occurrence. Every term sits on the exact 0.5 grid, so the
           -- sum is exact in double regardless of order.
           round(sum(na * (cum_all - (na + nb - 1) / 2.0))
                 - t.t_a * (t.t_a + 1) / 2.0, 1) AS u_stat
    FROM cum CROSS JOIN tot t
    GROUP BY t.t_a, t.t_b
    """,
)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) statistic between the even/odd user value
    distributions — the nonparametric location test that completes the
    cohort-comparison family (q_abtest: parametric means; q_ks_test:
    distribution shape; this: medians/stochastic dominance), with the
    textbook midrank treatment of ties.

    Exactness: midranks sit on the 0.5 grid (exact in double) and every
    other input is an integer count, so the rank-sum is EXACT under any
    accumulation order — 0.5-grid doubles below 2^52 add associatively.
    The output rounds to 1dp only to normalize the -0.0 class.

    Scale: the same shape as q_ks_test — one per-value partial-agg'd
    shuffle, pooled cumulative counts via
    operators/ranks.distributed_cumsum (no single-partition window), a
    1-row result."""
    from e2e_etl_pipeline_spark.operators.ranks import distributed_cumsum

    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    pts = e.groupBy("value").agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("na"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("nb"),
    )
    cum = distributed_cumsum(
        pts.withColumn("nall", F.col("na") + F.col("nb")),
        ["value"],
        {"cum_all": "nall"},
    )
    tot = pts.agg(
        F.sum("na").cast("bigint").alias("t_a"),
        F.sum("nb").cast("bigint").alias("t_b"),
    )
    midrank_sum = F.sum(
        F.col("na") * (F.col("cum_all") - (F.col("na") + F.col("nb") - 1) / 2.0)
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("t_a", "t_b")
        .agg(
            F.round(
                midrank_sum - F.col("t_a") * (F.col("t_a") + 1) / 2.0, 1
            ).alias("u_stat")
        )
        .select(
            F.col("t_a").alias("n_a"), F.col("t_b").alias("n_b"), "u_stat"
        )
    )


@register(
    "q_spearman",
    oracle=f"""
    WITH src AS (
      SELECT l_quantity AS x, l_extendedprice AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    ptx AS (SELECT x, count(*) AS c FROM src GROUP BY x),
    pty AS (SELECT y, count(*) AS c FROM src GROUP BY y),
    mrx AS (
      SELECT x,
             CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                  - (c - 1) / 2.0 AS DECIMAL(28,1)) AS rx
      FROM ptx
    ),
    mry AS (
      SELECT y,
             CAST(sum(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING)
                  - (c - 1) / 2.0 AS DECIMAL(28,1)) AS ry
      FROM pty
    ),
    ranked AS (
      SELECT rx, ry FROM src JOIN mrx USING (x) JOIN mry USING (y)
    ),
    s AS (
      SELECT count(*) AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           {stable_round_sql(
               "CAST(n * sxy - sx * sy AS DOUBLE)"
               " / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
               " * CAST(n * syy - sy * sy AS DOUBLE)), 0.0)", 6
           )} AS spearman
    FROM s
    """,
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price —
    the robust (monotone, outlier-insensitive) cousin of q_agg_stats'
    Pearson, computed with textbook midrank tie handling.

    Exactness: midranks sit on the 0.5 grid and are carried as
    DECIMAL(28,1), so every sufficient statistic (Σr, Σr², Σrxry) is an
    exact DECIMAL sum — the q_regression_ols discipline — and doubles
    first appear in the closed-form correlation on identical inputs.
    A degenerate frame (constant variable → zero variance) yields NULL
    via try_divide/nullif, never an ANSI crash.

    Scale: per-variable midranks come from value-grouped counts run
    through operators/ranks.distributed_cumsum (no single-partition
    window); the rank join back to rows is a hash join on the value
    key; the final statistics are one map-side-combinable aggregate."""
    from e2e_etl_pipeline_spark.operators.ranks import distributed_cumsum

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    src = li.select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )

    def midranks(col: str, out: str) -> DataFrame:
        pts = src.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        cum = distributed_cumsum(pts, [col], {"cum": "c"})
        return cum.select(
            col,
            (F.col("cum") - (F.col("c") - 1) / 2.0)
            .cast("decimal(28,1)")
            .alias(out),
        )

    ranked = src.join(midranks("x", "rx"), "x").join(midranks("y", "ry"), "y")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        n.cast("bigint").alias("n"),
        stable_round(F.try_divide(num, F.nullif(den, F.lit(0.0))), 6).alias(
            "spearman"
        ),
    )


@register(
    "q_join_asof_nearest",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      -- Same (user, ts) dedup as q_join_asof: ASOF picks ambiguously
      -- among equal keys, so the tie winner is pinned to max event_id.
      -- value DESC final tiebreak: a tie group whose event_ids are ALL
      -- NULL (pk-variant shape) is otherwise unpinned in both engines —
      -- value is the only payload the carry exposes, so pinning it pins
      -- the output (round-7 advice).
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC, value DESC) AS rn
        FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
              AND user_id IS NOT NULL
      ) WHERE rn = 1
    ),
    nearby AS (
      -- Chained ASOF joins keep the click row's identity positional —
      -- no re-join on event_id, so a NULL or duplicated event_id (the
      -- driver has changed this table's shape between rounds) cannot
      -- NULL-out or fan out annotations (round-7 review).
      SELECT c.event_id, c.user_id,
             b.value AS bv, floor(epoch(c.ts)) - floor(epoch(b.ts)) AS bgap,
             f.value AS fv, floor(epoch(f.ts)) - floor(epoch(c.ts)) AS fgap
      FROM (SELECT * FROM clicks WHERE ts IS NOT NULL) c
      ASOF LEFT JOIN purchases b
        ON c.user_id = b.user_id AND c.ts >= b.ts
      ASOF LEFT JOIN purchases f
        ON c.user_id = f.user_id AND c.ts <= f.ts
    )
    SELECT event_id, user_id,
           CASE WHEN bgap IS NOT NULL AND (fgap IS NULL OR bgap <= fgap)
                THEN bv ELSE fv END                        AS nearest_value,
           CAST(CASE WHEN bgap IS NOT NULL AND (fgap IS NULL OR bgap <= fgap)
                THEN -bgap ELSE fgap END AS BIGINT)        AS gap_seconds,
           CASE WHEN bgap IS NOT NULL AND (fgap IS NULL OR bgap <= fgap)
                THEN 'back'
                WHEN fgap IS NOT NULL THEN 'fwd'
                ELSE NULL END                              AS direction
    FROM nearby
    UNION ALL
    SELECT event_id, user_id,
           CAST(NULL AS DOUBLE)  AS nearest_value,
           CAST(NULL AS BIGINT)  AS gap_seconds,
           CAST(NULL AS VARCHAR) AS direction
    FROM clicks WHERE ts IS NULL
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof
    direction='nearest'): each click annotated with the user's CLOSEST
    purchase in time, looking both backward and forward; equal distance
    (in whole seconds — the family's floored-epoch contract) breaks
    toward the BACKWARD match, and a same-second purchase is gap 0 in
    both directions so the tie rule makes it unambiguous. gap_seconds is
    SIGNED: <= 0 when the purchase precedes the click.

    Spark side: the q_join_asof union-then-window shape run in BOTH
    directions over one shuffle — an ascending window carries the last
    preceding purchase and a descending window the first following one,
    each with purchases ordered by ascending event_id so the carry
    lands on the max-event_id winner of any (user, ts) tie group (the
    oracle's dedup rn = 1) without a separate dedup exchange; the
    nearest pick is a plain CASE over the two carried structs. Still no
    range join, still linear per user. NULL contracts mirror q_join_asof
    exactly: NULL-ts clicks match nothing in either direction, NULL-ts /
    NULL-user purchases never enter the carry.

    Scale: two windows over the SAME (user_id)-partitioned sort — one
    exchange, two linear passes; at 10^12 events this is the same
    single-shuffle cost as the backward-only as-of."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    is_purchase = (
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    # No explicit (user, ts) dedup pass: ordering purchases by ASCENDING
    # event_id in BOTH direction windows makes last(ignorenulls) carry the
    # max-event_id purchase of every (user, ts) tie group — the oracle's
    # rn = 1 winner — with zero extra exchange (round-7 review replaced a
    # second full-events shuffle on (user, ts) with this implicit carry,
    # the same trick q_join_asof's tie contract documents).
    tagged = ev.withColumn(
        "p",
        F.when(
            is_purchase,
            F.struct(F.col("ts").alias("ts"), F.col("value").alias("value")),
        ),
    )
    # Ascending pass (backward match): NULLS FIRST so NULL-ts clicks see
    # nothing; purchases sort before same-ts clicks (gap-0 visibility).
    # event_id stays ASC NULLS FIRST (Spark default) so the LAST frame row
    # is the max non-NULL id — the mirror of the oracle's DESC NULLS LAST
    # rn=1; value ASC NULLS FIRST pins the all-NULL-id tie group the same
    # way (oracle: value DESC NULLS LAST — round-7 advice).
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(
            F.asc_nulls_first("ts"),
            F.asc(F.col("p").isNull()),
            F.asc("event_id"),
            F.asc_nulls_first("value"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Descending pass (forward match): NULL-ts clicks must STILL see no
    # purchase, so NULLs again sort before every real timestamp
    # (desc_nulls_first); purchases again precede same-ts clicks, and the
    # event_id stays ASCENDING so the tie group's last frame row — what
    # last() carries — is the max-event_id purchase, as in w_back.
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(
            F.desc_nulls_first("ts"),
            F.asc(F.col("p").isNull()),
            F.asc("event_id"),
            F.asc_nulls_first("value"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = (
        tagged.withColumn("back_p", F.last("p", ignorenulls=True).over(w_back))
        .withColumn("fwd_p", F.last("p", ignorenulls=True).over(w_fwd))
        .where(F.col("event_type") == "click")
    )
    c_ep = F.floor(F.col("ts").cast("double"))
    bgap = c_ep - F.floor(F.col("back_p.ts").cast("double"))
    fgap = F.floor(F.col("fwd_p.ts").cast("double")) - c_ep
    back_wins = F.col("back_p").isNotNull() & (
        F.col("fwd_p").isNull() | (bgap <= fgap)
    )
    return enriched.select(
        "event_id",
        "user_id",
        F.when(back_wins, F.col("back_p.value"))
        .otherwise(F.col("fwd_p.value"))
        .alias("nearest_value"),
        F.when(back_wins, -bgap)
        .otherwise(fgap)
        .cast("long")
        .alias("gap_seconds"),
        F.when(back_wins, F.lit("back"))
        .when(F.col("fwd_p").isNotNull(), F.lit("fwd"))
        .otherwise(F.lit(None).cast("string"))
        .alias("direction"),
    )
