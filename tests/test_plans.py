"""Physical-plan assertions (the 100 TB story, SURVEY.md §4): filters and
column pruning reach the parquet scan, small dims broadcast, top-k avoids a
global sort, and the hot expression paths stay inside whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.registry import QUERIES, load_all

load_all()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _formatted(spark, key, sf_dir) -> str:
    return _plan(QUERIES[key](spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _formatted(spark, "q_filter_compound", sf_dir)
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_quantity,10" in plan.replace(" ", "") or "l_quantity" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_column_pruning(spark, sf_dir):
    plan = _formatted(spark, "q_project_alias", sf_dir)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    # only the 4 needed columns are read, not all 11 lineitem columns
    assert "l_returnflag" not in read_schema
    assert "l_shipdate" not in read_schema
    assert "l_extendedprice" in read_schema


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _formatted(spark, "q_join_star", sf_dir)
    assert "BroadcastHashJoin" in plan
    # lineitem⋈orders is always a shuffle join; customer (unhinted, AQE's
    # choice — forced broadcast would OOM at scale) may add one more. The
    # fixed-size nation⋈region chain must never introduce a SortMergeJoin.
    assert plan.count("SortMergeJoin") <= 2


def test_topk_no_global_sort(spark, sf_dir):
    plan = _formatted(spark, "q_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_salary_parse_is_codegen(spark, sf_dir):
    """The signature computation must stay UDF-free (SURVEY.md §4.2), and
    free of case mapping and lambdas: the first ICU-backed lower()/upper()
    in a JVM builds Spark's title-case table (~1.9 s and a heap that G1
    keeps), and a higher-order function falls back to interpreted code."""
    from e2e_etl_pipeline_spark.pipeline.offers import parse_offers

    plan = _formatted(spark, "q_salary_parse", sf_dir)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    docs = spark.createDataFrame(
        [(1, "jjit", "<ul></ul>")], "doc_id long, site string, html string"
    )
    for df in (QUERIES["q_salary_parse"](spark, sf_dir), parse_offers(docs)):
        optimized = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        for banned in ("lower(", "upper(", "initcap(", "lambda", "transform("):
            assert banned not in optimized, (banned, optimized[:2000])


def test_words_is_lambda_free(spark):
    """The one whitespace tokenizer carries no higher-order-function lambda:
    Spark 4.1 interprets every lambda (CodegenFallback), so a split-then-
    filter tokenizer would drag each text key's expression off codegen."""
    from e2e_etl_pipeline_spark.functions import textstats as ts

    df = spark.createDataFrame([("a b",)], "text string").select(ts.words("text"))
    optimized = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert "lambdafunction" not in optimized, optimized


def test_mean_word_length_is_lambda_free(spark):
    """mean_word_length sums word lengths as the length of their
    concatenation, not with an ``aggregate`` lambda Spark would interpret."""
    from e2e_etl_pipeline_spark.functions import textstats as ts

    df = spark.createDataFrame([("a b",)], "text string").select(ts.mean_word_length("text"))
    optimized = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert "lambdafunction" not in optimized, optimized


def test_agg_has_partial_aggregation(spark, sf_dir):
    """Map-side combine: two HashAggregate nodes (partial + final)."""
    plan = _formatted(spark, "q_agg_groupby", sf_dir)
    assert plan.count("HashAggregate") >= 2


def test_ntile_bins_no_single_partition_window(spark, sf_dir):
    """Distributed-exact NTILE: the plan must contain no SinglePartition
    exchange — the window runs partitioned by the range-partition id, and
    the final 10-row agg shuffles on decile."""
    plan = _formatted(spark, "q_ntile_bins", sf_dir)
    assert "SinglePartition" not in plan
    assert "Window" in plan  # per-partition row_number is still a window


def test_count_distinct_two_stage_no_expand(spark, sf_dir):
    """q_agg_count_distinct must NOT plan the multi-distinct Expand (which
    multiplies every input row by the number of distinct aggregates before
    the shuffle — 3× the shuffle volume at any scale). The two-stage form
    dedups each column with partial aggregation instead."""
    plan = _formatted(spark, "q_agg_count_distinct", sf_dir)
    assert "Expand" not in plan
    # Each distinct branch carries map-side partial aggregation.
    assert plan.count("HashAggregate") >= 4
    # One chain, no join of per-column counts: two racing branches let AQE
    # pick the join's build side by which finished first.
    assert "Join" not in plan


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """Both sides bucketed on the join key → the join and the same-key
    groupBy need no runtime Exchange."""
    df = QUERIES["q_join_bucketed"](spark, sf_dir)
    plan = _plan(df)
    # BroadcastExchange is fine (not a shuffle); hash-partitioning exchanges
    # are what bucketing must eliminate — for the join AND the same-key agg.
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert "Bucketed: true" in plan


def test_salted_agg_two_stage(spark, sf_dir):
    plan = _plan(QUERIES["q_agg_salted"](spark, sf_dir))
    # partial (key, salt) agg + final (key) agg + their map-side partials
    assert plan.count("HashAggregate") >= 3


def test_latest_partition_broadcasts_max(spark, sf_dir):
    plan = _formatted(spark, "q_latest_partition", sf_dir)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_topk_join_agg_no_global_sort(spark, sf_dir):
    """The Q3-shaped top-10 must ride TakeOrderedAndProject over the agg —
    a full global Sort of the grouped result would not survive 100×."""
    plan = _formatted(spark, "q_topk_join_agg", sf_dir)
    assert "TakeOrderedAndProject" in plan
    # both date predicates reach the scans
    assert plan.count("PushedFilters:") >= 2


def test_profile_is_single_scan(spark, sf_dir):
    """Multi-column profiling must be ONE scan + one multi-distinct Expand,
    not a per-column re-aggregation (which would scan N times)."""
    plan = _formatted(spark, "q_profile", sf_dir)
    # "Scan parquet" appears twice per physical scan in formatted output
    # (node line + details block).
    assert plan.count("Scan parquet") == 2, plan[:1500]


def test_scd2_is_one_window_pass(spark, sf_dir):
    """SCD2 history build: one user-partitioned window pass, no self-join."""
    plan = _formatted(spark, "q_scd2", sf_dir)
    assert "Window" in plan
    assert "Join" not in plan


def test_quantize_and_sample_are_scan_local(spark, sf_dir):
    """Embedding quantization and hash-gated sampling are pure per-row
    expressions: zero Exchange, zero Python, at any scale."""
    for key in ("q_embedding_quantize", "q_sample_stratified"):
        plan = _formatted(spark, key, sf_dir)
        assert "Exchange" not in plan, key
        assert "Python" not in plan, key


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark's runtime bloom-filter join (on by default, SPARK-32268):
    a selective dim-side predicate is turned into a bloom filter the fact
    scan applies BEFORE the shuffle — the row-level companion to partition
    pruning that keeps a 100 TB fact⋈filtered-dim join from shuffling
    unmatched rows. At cluster scale the default 10 GB application-side
    threshold triggers this automatically; the test scopes the thresholds
    down (and disables broadcast, which would otherwise supersede it) to
    assert the injection machinery works end-to-end."""
    from e2e_etl_pipeline_spark.catalog import load_table

    scoped = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in scoped}
    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
        # correctness unaffected by the injected filter
        assert j.count() >= 1
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_asof_join_is_window_not_range_join(spark, sf_dir):
    """The as-of join must compile to one user-partitioned window pass,
    never a (quadratic) range/nested-loop join."""
    plan = _formatted(spark, "q_join_asof", sf_dir)
    assert "Window" in plan
    assert "NestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q6_full_pushdown(spark, sf_dir):
    """Q6 is the canonical pushdown probe: every predicate and the 4-column
    projection must reach the parquet scan, leaving one partial-agg stage."""
    plan = _formatted(spark, "q_tpch_q6", sf_dir)
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema
    assert "l_orderkey" not in read_schema


def test_tpch_q5_broadcasts_fixed_dims_only(spark, sf_dir):
    """nation⋈region (O(25) rows at any SF) must broadcast; the growing
    tables (customer/orders/lineitem/supplier) must NOT be hint-forced —
    at this SF AQE may still broadcast them, but no SortMergeJoin on the
    dim chain."""
    plan = _formatted(spark, "q_tpch_q5", sf_dir)
    assert "BroadcastHashJoin" in plan
    # one of the fact joins may legitimately shuffle
    assert plan.count("SortMergeJoin") <= 3


def test_tpch_q18_aggregates_before_join(spark, sf_dir):
    """The qualifying-orders set must come from a lineitem aggregate (partial
    agg on the scan side), not from joining full lineitem rows first."""
    plan = _formatted(spark, "q_tpch_q18", sf_dir)
    assert "HashAggregate" in plan
    # the semi join against qualifying orderkeys exists
    assert "LeftSemi" in plan


def test_tpch_q19_derives_singleside_filters(spark, sf_dir):
    """The OR-of-AND predicate spans both join sides; Catalyst must still
    derive and push the single-side implications (brand IN-set on part,
    quantity envelope on lineitem) into the scans."""
    plan = _formatted(spark, "q_tpch_q19", sf_dir)
    pushed_all = plan.split("PushedFilters:")
    joined = " ".join(seg.split("\n")[0] for seg in pushed_all[1:])
    assert "p_brand" in joined
    assert "l_quantity" in joined


def test_tpch_q13_filter_inside_outer_join(spark, sf_dir):
    """Q13's priority exclusion must live in the LEFT join condition (so
    order-less customers survive with count 0) — the plan must keep the
    outer join, not let the filter degrade it to inner."""
    plan = _formatted(spark, "q_tpch_q13", sf_dir)
    assert "LeftOuter" in plan
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    # customer side reads only its key
    assert "c_mktsegment" not in plan.split("ReadSchema:")[1]


def test_tpch_q15_max_is_broadcast_not_window(spark, sf_dir):
    """Q15's scalar max must attach via a 1-row broadcast onto the
    supplier-grain aggregate — never a global Window over it."""
    plan = _formatted(spark, "q_tpch_q15", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_tpch_q17_decorrelated_single_fanout(spark, sf_dir):
    """Q17's correlated per-part average must decorrelate to an aggregate
    joined back on l_partkey — no nested-loop re-evaluation, and the brand
    filter must prune the part scan."""
    plan = _formatted(spark, "q_tpch_q17", sf_dir)
    assert "NestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    pushed_all = plan.split("PushedFilters:")
    joined = " ".join(seg.split("\n")[0] for seg in pushed_all[1:])
    assert "p_brand" in joined


def test_tpch_q21_one_fact_shuffle_no_self_joins(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair is rewritten as one per-order aggregate:
    exactly one grouping over the lineitem⋈orders join — not two extra
    correlated self-joins of the fact table (lineitem scans stay ≤ 1)."""
    plan = _formatted(spark, "q_tpch_q21", sf_dir)
    assert plan.count("lineitem.parquet") <= 1
    assert "TakeOrderedAndProject" in plan


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """The k×corpus distance evaluation must broadcast the k seed rows —
    a shuffled or sort-merge assignment would move the corpus instead."""
    plan = _formatted(spark, "q_kmeans_step", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan.split("Exchange")[0]  # assignment side


def test_winsorize_broadcasts_cut_table(spark, sf_dir):
    plan = _formatted(spark, "q_winsorize", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_coverage_topk_not_global_sort(spark, sf_dir):
    """Ranking must touch only the top max(cutoff) rows, never sort the
    whole vocabulary globally."""
    plan = _formatted(spark, "q_vocab_coverage", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_lateral_join_decorrelates(spark, sf_dir):
    """The correlated LATERAL LIMIT-1 subquery must decorrelate into a
    window + join, not execute per-outer-row nested loops."""
    plan = _formatted(spark, "q_join_lateral", sf_dir)
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """Sessionization is one user_id exchange: both window passes and the
    (user_id, session_seq) aggregate reuse the same partitioning — the
    lag-mark/prefix-sum formulation never range-self-joins."""
    plan = _formatted(spark, "q_sessionize", sf_dir)
    tree = [
        ln
        for ln in plan.split("== Initial Plan ==")[0].splitlines()
        if "+-" in ln  # operator-tree rows only, not the per-node detail
    ]
    assert sum("Exchange" in ln for ln in tree) <= 1, plan[:2000]
    assert sum("Window" in ln for ln in tree) == 2, plan[:2000]


def test_dpp_injects_partition_pruning_subquery(spark, sf_dir, tmp_path):
    """A partitioned fact joined to a selective broadcast dim must carry a
    dynamicpruningexpression in its PartitionFilters — the fact scan lists
    only surviving partition directories at runtime."""
    from e2e_etl_pipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "dpp")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(t,) for t in ("click", "purchase", "view", "signup", "error")],
        "event_type string",
    ).where(F.col("event_type").isin("click", "purchase"))
    j = fact.join(F.broadcast(dim), "event_type").groupBy("event_type").count()
    assert "dynamicpruning" in _plan(j)


def test_bloom_join_injects_runtime_filter(spark, sf_dir):
    """Under the scoped thresholds, InjectRuntimeFilter must compile the
    selective orders predicate into a bloom filter probed by the lineitem
    side (might_contain in the optimized plan) — the semi-join reduction
    that keeps ~80% of the fact table out of the shuffle at scale."""
    from e2e_etl_pipeline_spark.queries.joins import bloom_join_frame

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    try:
        df = bloom_join_frame(spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert "might_contain" in optimized
        assert "bloom_filter_agg" in optimized
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_cache_reuse_second_consumer_reads_cache(spark, sf_dir):
    """Both consumers of the cached per-customer base must read the
    InMemoryRelation, not re-scan the parquet."""
    from e2e_etl_pipeline_spark.queries.pipeline_q import cache_reuse_frames

    out, base = cache_reuse_frames(spark, sf_dir)
    try:
        base.count()  # populate the cache
        plan = _plan(out)
        # BOTH consumers (the per-row filter side and the broadcast
        # average side) must read the cache. The InMemoryRelation node
        # prints its cached build plan, so the parquet scan TEXT still
        # appears once inside it — the assertion is on the scan count
        # matching the single cached build, not zero.
        assert plan.count("InMemoryTableScan") >= 2, plan[:1500]
    finally:
        base.unpersist()


def test_tpch_q20_reduces_fact_before_semi_chain(spark, sf_dir):
    """Q20's nested-IN chain must plan as semi joins over an already-
    aggregated (supplier, part) frame: the date filter reaches the
    lineitem scan, the part-family probe broadcasts, and no join carries
    raw fact rows to the supplier side."""
    plan = _formatted(spark, "q_tpch_q20", sf_dir)
    assert "LeftSemi" in plan
    pushed = plan.split("PushedFilters:")
    joined = " ".join(seg.split("\n")[0] for seg in pushed[1:])
    assert "l_shipdate" in joined
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q2_decorrelates_min_cost(spark, sf_dir):
    """Q2's correlated min must plan as an aggregate joined back (no
    per-row subquery / nested loop); part's size+type predicates push to
    its scan."""
    plan = _formatted(spark, "q_tpch_q2", sf_dir)
    assert "NestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    pushed = plan.split("PushedFilters:")
    joined = " ".join(seg.split("\n")[0] for seg in pushed[1:])
    assert "p_size" in joined and "p_type" in joined


def test_heavy_hitters_prunes_via_sketch(spark, sf_dir):
    """The exact recount must group only the broadcast-semi-joined candidate
    sliver, never the raw vocabulary: MG summary (MapInPandas) feeds a
    broadcast semi join ahead of the counting aggregate."""
    plan = _formatted(spark, "q_heavy_hitters", sf_dir)
    assert "MapInPandas" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_rfm_no_single_partition_window(spark, sf_dir):
    """RFM quintiles via distributed_ntile: no unpartitioned window over
    customers anywhere in the executed plan (the round-3 verdict's tail).
    The visible plan is the third ntile call (the first two sit behind the
    helper's localCheckpoints, same construction); its row_number must be
    partitioned by the range-partition id."""
    plan = _formatted(spark, "q_rfm", sf_dir)
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(__rank_pid" in plan


def test_decile_lift_distributed_ntile(spark, sf_dir):
    """Customer-spend deciles via distributed_ntile; the only permitted
    SinglePartition exchange feeds the share/cumulative windows over the
    10-row reduced frame."""
    plan = _formatted(spark, "q_decile_lift", sf_dir)
    assert "windowspecdefinition(__rank_pid" in plan
    assert plan.count("SinglePartition") <= 1


def test_concurrent_sessions_day_sharded(spark, sf_dir):
    """The sweep-line running sum must window PER DAY, never over the
    global delta stream: every t-ordered windowspec carries the day
    partition key, and the old unpartitioned form (windowspecdefinition
    opening directly on t) must not appear."""
    import re

    plan = _formatted(spark, "q_concurrent_sessions", sf_dir)
    assert "windowspecdefinition(day" in plan
    assert not re.search(r"windowspecdefinition\(t#", plan)


def test_sql_udfs_inline_no_python_boundary(spark, sf_dir):
    """SQL-language UDFs/UDTFs must inline at resolution time: no Python
    eval node, and the scalar key's filter still reaches the scan."""
    plan = _formatted(spark, "q_sql_udf", sf_dir)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "PushedFilters:" in plan and "o_orderstatus" in plan
    tvf_plan = _formatted(spark, "q_sql_udtf", sf_dir)
    assert "BatchEvalPython" not in tvf_plan
    assert "ArrowEvalPython" not in tvf_plan
    assert "Generate" in tvf_plan  # the inlined posexplode


def test_bpe_encode_broadcasts_vocab(spark, sf_dir):
    """The encoded-vocabulary join must broadcast (vocab ≪ corpus); the
    doc-side token stream must never sort-merge against it."""
    plan = _formatted(spark, "q_bpe_encode", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_bm25_topk_no_global_sort(spark, sf_dir):
    """The BM25 top-20 must plan as TakeOrderedAndProject (orderBy+limit),
    never a corpus-wide single-partition rank window."""
    plan = _formatted(spark, "q_bm25", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_ks_test_no_single_partition_cumsum(spark, sf_dir):
    """The ECDF running sums must use the distributed construction: the
    cumulative-sum Window is partitioned by the range-exchange pid, and
    the ONLY SinglePartition exchange is the final 1-row aggregate's
    (which partially aggregates before it — unavoidable and harmless)."""
    plan = _formatted(spark, "q_ks_test", sf_dir)
    assert "windowspecdefinition(__rank_pid" in plan
    assert plan.count("SinglePartition") <= 1


def test_span_corruption_is_shuffle_free(spark, sf_dir):
    """Span-corruption sample generation must be ONE codegen'd projection
    over the corpus: per-row array expressions only — any Exchange means
    a masking step accidentally shuffled document bodies."""
    plan = _formatted(spark, "q_span_corruption", sf_dir)
    assert "Exchange" not in plan
    # higher-order functions (transform/filter lambdas) run as codegen'd
    # expression trees inside plain Projects, not WholeStageCodegen spans —
    # the assertable property is the absence of any shuffle or sort.
    assert "Sort" not in plan


def test_dedup_url_single_groupby_exchange(spark, sf_dir):
    """URL dedup shuffles exactly once: the groupBy on the canonical URL
    (map-side partial min/count first). Canonicalization itself is
    stateless string work inside the scan stage."""
    import re

    plan = _formatted(spark, "q_dedup_url", sf_dir)
    # formatted plans print each node twice (tree line + detail section);
    # count distinct Exchange node ids instead of raw substring hits.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_min" in plan


# The seven global day-series windows (q_running_distinct, q_ewma,
# q_autocorr, q_changepoint, q_concurrent_sessions' carry, q_window_median,
# q_rolling_corr) are single-partition BY DESIGN: each runs over a
# post-groupBy("day") frame, so the window's cardinality is the CALENDAR
# (|days| rows), not the data, and survives any data scale-up. That bound
# was previously prose in docstrings; these assertions make a refactor that
# silently widens one to row cardinality fail in CI (round-5 verdict #5).
DAY_SERIES_WINDOW_KEYS = [
    "q_running_distinct",
    "q_ewma",
    "q_autocorr",
    "q_changepoint",
    "q_concurrent_sessions",
    "q_window_median",
    "q_rolling_corr",
]


def _node_depth(line: str) -> int:
    """Column where the node text starts in a plan-tree pretty-print line
    (end of the whitespace/:/+/- tree-drawing prefix). NOT first-alpha: a
    whole-stage-codegen marker `*(3) ` would skew that by +5 columns and
    let sibling subtrees leak into the window-subtree scan."""
    import re

    return re.match(r"^[\s:+\-]*", line).end()


def _global_day_windows_are_calendar_bounded(df) -> int:
    """Assert every Window globally ordered by `day` has, in its subtree, a
    HashAggregate that PRODUCES that day attribute (so the window input is
    the day-grouped aggregate, calendar cardinality). Returns the number of
    such windows found."""
    import re

    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    n_found = 0
    for i, line in enumerate(lines):
        # Global-by-day spec: `windowspecdefinition(day#N ASC ...` — a
        # PARTITIONED window lists partition attrs first (`day#N, t#M ASC`)
        # and is not a global sort, so it is exempt.
        m = re.search(r"windowspecdefinition\(day#(\d+L?) ASC", line)
        if not m or "Window" not in line:
            continue
        n_found += 1
        day_id = m.group(1)
        depth = _node_depth(line)
        subtree = []
        for nxt in lines[i + 1 :]:
            if _node_depth(nxt) <= depth:
                break
            subtree.append(nxt)
        agg_produces_day = any(
            "HashAggregate(" in s
            and re.search(rf"output=\[[^\]]*\bday#{day_id}\b", s)
            for s in subtree
        )
        assert agg_produces_day, (
            "global day-window input is NOT a day-grouped aggregate "
            f"(day#{day_id}); window line: {line.strip()}"
        )
    return n_found


def test_day_series_windows_are_calendar_bounded(spark, sf_dir):
    for key in DAY_SERIES_WINDOW_KEYS:
        df = QUERIES[key](spark, sf_dir)
        n = _global_day_windows_are_calendar_bounded(df)
        assert n >= 1, f"{key}: expected a global day-ordered window, found 0"


def test_quality_gopher_is_shuffle_free_scan_stage(spark, sf_dir):
    """Gopher rule filtering is stateless per-row column math: the whole
    plan must be one scan-stage projection — no Exchange, no Python."""
    plan = _formatted(spark, "q_quality_gopher", sf_dir)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dedup_substring_window_is_per_document(spark, sf_dir):
    """The coverage window must partition BY DOCUMENT — a SinglePartition
    window here would serialize the whole corpus through one task."""
    plan = _formatted(spark, "q_dedup_substring", sf_dir)
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(doc_id" in plan


def test_token_shards_no_single_partition(spark, sf_dir):
    """Global token-shard assignment must run through distributed_cumsum —
    a SinglePartition window here would funnel the corpus into one task."""
    plan = _formatted(spark, "q_token_shards", sf_dir)
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(__rank_pid" in plan


def test_lsh_candidates_are_bucket_equi_join(spark, sf_dir):
    """The LSH candidate stage must be keyed on (table_id, bucket) —
    never an all-pairs product. q_similarity_lsh equi-joins bucket ids on
    it; q_dedup_embedding groups on it, each (table, bucket) one
    _block_kernel group. The ONLY nested-loop join allowed is the 1-row
    hyperplane-tensor broadcast (planes ride as data, not as a 12k-node
    literal expression tree — see operators/similarity.py, round-7
    profile). A second BroadcastNestedLoopJoin or any CartesianProduct
    means the bucket key fell out of the candidate stage."""
    for key in ("q_dedup_embedding", "q_similarity_lsh"):
        plan = _formatted(spark, key, sf_dir)
        assert "CartesianProduct" not in plan, key
        # one planes broadcast per bucketized side, nothing more (formatted
        # explain prints each operator twice: tree + details section)
        assert plan.count("BroadcastNestedLoopJoin") <= 4, key
        assert "table_id" in plan and "bucket" in plan, key
    plan = _formatted(spark, "q_similarity_lsh", sf_dir)
    joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count("BroadcastHashJoin")
    assert joins >= 1, "q_similarity_lsh: bucket equi-join missing"
    plan = _formatted(spark, "q_dedup_embedding", sf_dir)
    bucket_key = re.search(
        r"struct\(table_id, table_id#\d+, bucket, bucket#\d+L?\) AS _bi#", plan
    )
    assert bucket_key and "FlatMapGroupsInArrow" in plan, (
        "q_dedup_embedding: kernel groups are not keyed on (table_id, bucket)"
    )


def test_readability_is_shuffle_free_scan(spark, sf_dir):
    """Readability is a pure per-row projection: no Exchange of any kind,
    no Python eval — the plan must be a single scan stage at any corpus
    size."""
    plan = _formatted(spark, "q_text_readability", sf_dir)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_pairs_join_on_cluster_not_cross(spark, sf_dir):
    """SemDeDup's pairwise stage must be keyed on the cluster id — the
    clustering is what keeps semantic dedup sub-quadratic, so a
    CartesianProduct here means the cluster key fell out of it. Each
    cluster is one _block_kernel group (``_bi`` = ``_bj`` = cid). The only
    nested-loop join allowed is the K-centroid broadcast used by the
    assignment step."""
    plan = _formatted(spark, "q_semdedup_prune", sf_dir)
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInArrow" in plan
    assert re.search(r"cid#\d+L? AS _bi#", plan), "cluster-keyed kernel groups missing"
