"""tools/perf_sweep.py: a key's record counts what its executed plan file
shows, the classes its timed run compiled, the JVM's collection time,
committed heap and threads, and its Python workers, and an isolated child that dies surfaces as an error, never
as the numbers an earlier child left in its output file."""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_perf_sweep():
    spec = importlib.util.spec_from_file_location(
        "perf_sweep", os.path.join(REPO, "tools", "perf_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_isolated_failed_child_reports_error(monkeypatch, tmp_path):
    perf_sweep = _load_perf_sweep()
    key = "q_perf_sweep_stale_probe"
    stale = f"/tmp/perf_sweep_iso_{key}.json"
    with open(stale, "w") as f:
        json.dump({key: {"run": 0.123, "runs": [0.123]}}, f)
    # The "child interpreter" exits 1 without writing anything.
    monkeypatch.setattr(perf_sweep.sys, "executable", "false")
    try:
        results = perf_sweep.run_isolated([key], "/nonexistent", 1, str(tmp_path / "sweep.json"))
    finally:
        if os.path.exists(stale):
            os.remove(stale)
    assert "error" in results[key], results[key]
    assert "run" not in results[key]


def test_record_counts_the_executed_plan(spark, sf_dir, tmp_path):
    """q_unigram_logprob's executed plan reuses exchanges: the record's
    reuse count is the final plan's ReusedExchange lines, and building the
    key runs no Spark job."""
    from e2e_etl_pipeline_spark.registry import load_all

    perf_sweep = _load_perf_sweep()
    load_all()
    key = "q_unigram_logprob"
    out = str(tmp_path / "sweep.json")
    rec = perf_sweep.sweep(spark, [key], sf_dir, 1, out)[key]
    with open(perf_sweep.plan_path(out, key)) as f:
        plan = f.read()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    reused = sum("ReusedExchange" in line for line in final.splitlines())
    assert reused > 0
    assert rec["spark.plan.reused_exchanges"] == reused
    assert rec["queries.construct_jobs"] == 0


def test_warmed_key_compiles_no_generated_classes(spark, sf_dir, tmp_path):
    """The sweep's timed run follows a warm-up run of the same key, so every
    generated class is a codegen cache hit: the record counts 0 Janino
    compilations."""
    from e2e_etl_pipeline_spark.registry import load_all

    perf_sweep = _load_perf_sweep()
    load_all()
    key = "q_join_star"
    rec = perf_sweep.sweep(spark, [key], sf_dir, 1, str(tmp_path / "sweep.json"))[key]
    assert rec["codegen.compilations"] == 0, rec
    assert rec["jvm.jit_s"] >= 0
    assert rec["jvm.gc_s"] >= 0
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20  # noqa: SLF001
    assert 0 < rec["jvm.heap_committed_mb"] <= max_heap, rec


def test_record_counts_the_python_workers(spark, sf_dir, tmp_path):
    """A key with an Arrow kernel leaves the worker daemon and at least one
    worker under the JVM: the record counts them and their high-water RSS,
    which is the sum of each process's VmHWM, and the JVM's threads."""
    from e2e_etl_pipeline_spark.registry import load_all

    perf_sweep = _load_perf_sweep()
    load_all()
    rec = perf_sweep.sweep(spark, ["q_map_in_arrow"], sf_dir, 1, str(tmp_path / "sweep.json"))["q_map_in_arrow"]
    assert rec["spark.plan.python_nodes"] > 0, rec
    assert rec["python.workers"] >= 2, rec
    # No Python worker weighs less than 10 MB or more than 1 GB.
    assert 10 * rec["python.workers"] < rec["python.worker_rss_mb"] < 1024 * rec["python.workers"], rec
    assert rec["jvm.threads"] > 0, rec
    now = perf_sweep.worker_layer(spark)
    assert now["python.workers"] == rec["python.workers"]
    assert now["jvm.threads"] > 0


def test_gc_counter_reads_collection_time(spark):
    """A full collection of the session's heap shows in ``jvm.gc_s``, and
    the counters subtract to the time between two reads."""
    perf_sweep = _load_perf_sweep()
    before = perf_sweep.jvm_counters(spark)
    spark._jvm.java.lang.System.gc()  # noqa: SLF001
    spent = perf_sweep.jvm_counters(spark) - before
    assert spent["jvm.gc_s"] > 0, spent
    assert spent["codegen.compilations"] == 0


def test_held_stages_drops_stages_the_store_evicted():
    """Past spark.ui.retainedStages the status store evicts SKIPPED stages
    first, even those of the job just run; the sweep must read only the
    stages still held, or SparkStats.stage_totals fails on the rest."""
    perf_sweep = _load_perf_sweep()

    class Tracker:
        def getStageInfo(self, sid):
            return None if sid == 7 else object()

    class Context:
        def statusTracker(self):
            return Tracker()

    jobs = [{"stageIds": [6, 7, 8]}, {"stageIds": [7]}]
    assert perf_sweep.held_stages(Context(), jobs) == [
        {"stageIds": [6, 8]},
        {"stageIds": []},
    ]
