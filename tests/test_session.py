"""session.get_session: the codegen cache holds a repeated working set larger
than Spark's default cap of 100 generated classes."""

from __future__ import annotations

# Eleven headline keys: 139 generated classes when run cold one by one at
# sf0.001, so Spark's default 100-entry LRU cache would evict on every pass.
KEYS = (
    "q_similarity_topk",
    "q_join_star",
    "q_dedup_exact",
    "q_window_topk_per_group",
    "q_join_broadcast",
    "q_agg_groupby",
    "q_text_wordcount",
    "q_stream_tumbling",
    "q_topk",
    "q_salary_parse",
    "q_agg_count_distinct",
)


def test_warm_passes_compile_no_generated_classes(spark, sf_dir):
    """Three back-to-back passes over the keys: the third compiles nothing.
    (Not the second: the third leaves a margin for a plan variant whose
    class compiles late.)"""
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()  # noqa: SLF001
    per_pass = []
    for _ in range(3):
        before = compiled.getCount()
        for key in KEYS:
            QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        per_pass.append(compiled.getCount() - before)
    assert per_pass[2] == 0, per_pass
