"""Profile every registered query at a given SF with the noop sink (guide §1.4).

Run: PYTHONPATH=. python tools/perf_sweep.py [--min3] [--isolated] \
         [sf_dir] [out.json] [key ...]

Default mode: one warmup + one timed run per key (the sweep ranks operators;
anything worth touching gets re-measured quietly).

Each key's record holds the wall timings (``construct``, ``warm``, ``run``,
and ``runs`` under --min3), then, read after the clock stops, per-layer
numbers under the names BENCHMARK.json uses, from the benchmark's own
readers (perfbench/layers.py):
  queries.construct_*  py4j calls and Spark jobs of one more, untimed,
                       construction of the key;
  spark.exec.*, spark.shuffle.*, spark.spill_bytes, spark.scan.*,
  spark.python.*       the status store's numbers for the last timed run;
  spark.plan.*         the shape of that run's executed (AQE-final) plan
                       (plans, if its construction started SQL executions);
  codegen.compilations generated classes Janino compiled during that run
                       (codegen cache misses; 0 once the key is warm);
  jvm.jit_s            JIT compile seconds the JVM spent during that run;
  jvm.gc_s             garbage-collection seconds during that run, summed
                       over the JVM's collectors;
  jvm.child_cpu_s      CPU seconds of the child processes the JVM reaped
                       during that run (cutime + cstime in /proc/<jvm>/stat),
                       so a layer that forks a command per file shows;
  jvm.heap_committed_mb  heap the JVM held from the OS at the end of it;
  jvm.threads          the JVM's live threads at the end of it;
  python.workers       the Python processes the JVM started (the worker
                       daemon and the workers it forked) alive at the end
                       of it;
  python.worker_rss_mb their summed high-water RSS (VmHWM) then. Workers
                       outlive a key, so the mark covers what they ran
                       before it in the same session too.
The executed-plan text of that run goes beside the JSON output, as
``<out stem>.<key>.plan.txt``.

Quiet modes (round-12, VERDICT item 2 — contention-proof numbers):
  --min3      one warmup + THREE timed runs; records min/all three. Min-of-N
              is the right estimator for a deterministic computation on a
              noisy host (noise is strictly additive).
  --isolated  run each key in its OWN subprocess/SparkSession (fresh JVM,
              zero cross-key contention, codegen cache cold per key). Implies
              the per-key timing happens in the child; the parent merges the
              JSONs. Slow (~20 s JVM startup per key) — use for the final
              word on a disputed number, not for ranking sweeps.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import time
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from layers import PLAN_NODES, PY_SENT, Py4jCounter, SparkStats, _walk, process_tree  # noqa: E402

# Plan-graph node name → plan-shape counter SparkStats does not keep.
EXTRA_NODES = {
    "ShuffledHashJoin": "spark.plan.shj",
    "BroadcastNestedLoopJoin": "spark.plan.bnlj",
    "CartesianProduct": "spark.plan.cartesian",
    "Window": "spark.plan.window",
    "Sort": "spark.plan.sort",
}
# The per-layer fields of every record, 0 where the run had none.
FIELDS = (
    "queries.construct_py4j_calls", "queries.construct_jobs",
    "spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks", "spark.exec.failed_tasks",
    "spark.exec.run_s", "spark.exec.cpu_s", "spark.exec.gc_s",
    "spark.shuffle.write_bytes", "spark.shuffle.read_bytes", "spark.spill_bytes",
    "spark.scan.input_bytes", "spark.scan.input_records", "spark.scan.files_read",
    "spark.python.rows_sent", "spark.python.rows_received", "spark.python.bytes_sent",
    "spark.python.bytes_received", "spark.python.run_s",
    "spark.plan.python_nodes", "spark.plan.py_eval", "spark.plan.map_in_py",
    "spark.plan.single_partition", *PLAN_NODES.values(), *EXTRA_NODES.values(),
    "codegen.compilations", "jvm.jit_s", "jvm.gc_s", "jvm.child_cpu_s", "jvm.heap_committed_mb", "jvm.threads",
    "python.workers", "python.worker_rss_mb",
)


def plan_path(out_path: str, key: str) -> str:
    return f"{os.path.splitext(out_path)[0]}.{key}.plan.txt"


def plan_shape(stats: SparkStats, eids) -> Counter:
    """The plan-shape counts SparkStats leaves out, from the same plan
    graphs. Python nodes split into per-row UDF evaluation (py_eval) and
    the batch map/group operators (map_in_py). The graph draws a reused
    exchange as one more edge out of the original exchange node, not as a
    node of its own, so the reuses are each exchange's consumer edges
    beyond the first."""
    out: Counter = Counter()
    for eid in eids:
        graph = stats._json(stats.sql.planGraph(eid))  # noqa: SLF001
        consumers = Counter(e["fromId"] for e in graph["edges"])
        for node in _walk(graph["nodes"]):
            name = node["name"]
            if name in EXTRA_NODES:
                out[EXTRA_NODES[name]] += 1
            if any(m["name"] == PY_SENT for m in node["metrics"]):
                out["spark.plan.py_eval" if "EvalPython" in name else "spark.plan.map_in_py"] += 1
            if "Exchange" in name:
                out["spark.plan.reused_exchanges"] += max(0, consumers[node["id"]] - 1)
                if "SinglePartition" in node["desc"]:
                    out["spark.plan.single_partition"] += 1
    return out


def child_cpu_s(pid: int) -> float:
    """User + system CPU seconds of the children ``pid`` has reaped."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return (int(rest[13]) + int(rest[14])) / os.sysconf("SC_CLK_TCK")


def jvm_counters(spark) -> Counter:
    """The JVM's compile, GC and fork layers so far: Janino compilations of
    generated classes, JIT compile seconds, collection seconds and the CPU
    seconds of the child processes it reaped."""
    jvm = spark._jvm  # noqa: SLF001
    mgmt = jvm.java.lang.management.ManagementFactory
    return Counter({
        "codegen.compilations":
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        "jvm.jit_s": mgmt.getCompilationMXBean().getTotalCompilationTime() / 1000,
        "jvm.gc_s": sum(gc.getCollectionTime() for gc in mgmt.getGarbageCollectorMXBeans()) / 1000,
        "jvm.child_cpu_s": child_cpu_s(jvm.java.lang.ProcessHandle.current().pid()),
    })


def heap_committed_mb(spark) -> float:
    """Heap the JVM holds from the OS now, in MB."""
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()  # noqa: SLF001
    return round(heap.getCommitted() / 2**20, 1)


def worker_layer(spark) -> dict:
    """The JVM's live threads, and the Python processes it started (the
    worker daemon and its workers) with their summed VmHWM in MB, now."""
    jvm = spark._jvm  # noqa: SLF001
    pid = jvm.java.lang.ProcessHandle.current().pid()
    kids = [p for p in process_tree(pid) if p != pid]
    kb = 0
    for kid in kids:
        with contextlib.suppress(OSError), open(f"/proc/{kid}/status") as f:
            kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
    return {
        "jvm.threads": jvm.java.lang.management.ManagementFactory.getThreadMXBean().getThreadCount(),
        "python.workers": len(kids),
        "python.worker_rss_mb": round(kb / 1024, 1),
    }


def held_stages(sc, jobs: list[dict]) -> list[dict]:
    """``jobs`` with their stage ids cut to the stages the status store
    still holds. Once a session passes spark.ui.retainedStages, each
    cleanup evicts SKIPPED stages first, the current job's included, and
    SparkStats.stage_totals would fail reading them; a skipped stage adds
    nothing to its totals anyway."""
    tracker = sc.statusTracker()
    for job in jobs:
        job["stageIds"] = [s for s in job["stageIds"] if tracker.getStageInfo(s) is not None]
    return jobs


def time_key(spark, stats: SparkStats, key: str, fn, sf_dir: str, n_runs: int) -> tuple[dict, str]:
    """(record, executed-plan text of the last timed run) for one key."""
    sc = spark.sparkContext
    sc.setJobGroup(f"sweep/{key}/warm", key)
    t0 = time.time()
    df = fn(spark, sf_dir)
    t_construct = time.time() - t0
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t_warm = time.time() - t0
    runs = []
    for i in range(n_runs):
        if i == n_runs - 1:
            stats.drain()
            stats.skip_to_now()
            sc.setJobGroup(f"sweep/{key}/run", key)
            counters = jvm_counters(spark)
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(round(time.time() - t0, 3))
    counters = jvm_counters(spark) - counters
    for name in ("jvm.jit_s", "jvm.gc_s", "jvm.child_cpu_s"):
        counters[name] = round(counters[name], 3)
    counters["jvm.heap_committed_mb"] = heap_committed_mb(spark)
    counters.update(worker_layer(spark))
    out = {
        "construct": round(t_construct, 3),
        "warm": round(t_warm, 3),
        "run": min(runs),
    }
    if n_runs > 1:
        out["runs"] = runs

    # The clock has stopped: read the last timed run's layers.
    stats.drain()
    layer = Counter(dict.fromkeys(FIELDS, 0))
    layer.update(stats.stage_totals(held_stages(sc, stats.jobs(f"sweep/{key}/run"))))
    first = stats.last_execution
    layer.update(stats.new_plans())
    layer.update(plan_shape(stats, range(first + 1, stats.last_execution + 1)))
    layer.update(counters)
    plan = ""
    if stats.last_execution > first:  # the run's noop write is its last execution
        plan = stats.sql.execution(stats.last_execution).get().physicalPlanDescription()

    sc.setJobGroup(f"sweep/{key}/construct", key)
    with Py4jCounter(spark) as calls:
        fn(spark, sf_dir)
    stats.drain()
    layer["queries.construct_py4j_calls"] = calls.calls
    layer["queries.construct_jobs"] = len(stats.jobs(f"sweep/{key}/construct"))
    out.update(sorted(layer.items()))
    return out, plan


def sweep(spark, keys: list[str], sf_dir: str, n_runs: int, out_path: str) -> dict:
    """Profile each key in this session; write each executed plan beside
    ``out_path``."""
    from e2e_etl_pipeline_spark.registry import QUERIES

    stats = SparkStats(spark)
    results = {}
    for i, key in enumerate(keys):
        try:
            results[key], plan = time_key(spark, stats, key, QUERIES[key], sf_dir, n_runs)
            with open(plan_path(out_path, key), "w") as f:
                f.write(plan)
        except Exception as e:  # noqa: BLE001
            results[key] = {"error": f"{type(e).__name__}: {e}"[:300]}
        r = results[key]
        print(
            f"[{i + 1}/{len(keys)}] {key}: "
            + (
                f"{r.get('run', '?')}s (warm {r.get('warm', '?')}s"
                + (f", runs {r.get('runs')}" if "runs" in r else "")
                + ")"
                if "error" not in r
                else "ERROR " + r["error"][:80]
            ),
            flush=True,
        )
    return results


def run_isolated(keys: list[str], sf_dir: str, n_runs: int, out_path: str) -> dict:
    """One subprocess (fresh JVM + SparkSession) per key; merge child JSONs
    and move each child's plan file beside ``out_path``."""
    results: dict[str, dict] = {}
    flag = ["--min3"] if n_runs > 1 else []
    for i, key in enumerate(keys):
        child_out = f"/tmp/perf_sweep_iso_{key}.json"
        child_plan = plan_path(child_out, key)
        # A failed child must report an error, not an earlier run's numbers.
        for stale in (child_out, child_plan):
            if os.path.exists(stale):
                os.remove(stale)
        cmd = [sys.executable, os.path.abspath(__file__), *flag, sf_dir, child_out, key]
        env = dict(os.environ, PYTHONPATH=REPO)
        proc = subprocess.run(cmd, env=env, capture_output=True, text=True)
        try:
            with open(child_out) as f:
                results.update(json.load(f))
        except Exception:  # noqa: BLE001
            results[key] = {"error": f"isolated child rc={proc.returncode}: "
                            + proc.stderr.strip()[-240:]}
        if os.path.exists(child_plan):
            os.replace(child_plan, plan_path(out_path, key))
        r = results.get(key, {})
        print(
            f"[iso {i + 1}/{len(keys)}] {key}: "
            + (f"{r.get('run', '?')}s runs={r.get('runs')}" if "error" not in r
               else "ERROR " + r["error"][:80]),
            flush=True,
        )
    return results


def main() -> None:
    argv = sys.argv[1:]
    min3 = "--min3" in argv
    isolated = "--isolated" in argv
    argv = [a for a in argv if a not in ("--min3", "--isolated")]
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
    out_path = argv[1] if len(argv) > 1 else "/tmp/perf_sweep.json"
    only = set(argv[2:])
    n_runs = 3 if min3 else 1

    from e2e_etl_pipeline_spark.registry import QUERIES, load_all  # noqa: E402

    load_all()
    keys = [k for k in QUERIES if not only or k in only]
    missing = only - set(keys)
    if missing:
        print(f"WARNING: unknown keys ignored: {sorted(missing)}", flush=True)

    if isolated:
        results = run_isolated(keys, sf_dir, n_runs, out_path)
    else:
        from e2e_etl_pipeline_spark.session import get_session  # noqa: E402

        results = sweep(get_session("perf_sweep"), keys, sf_dir, n_runs, out_path)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    ok = {k: v for k, v in results.items() if "run" in v}
    print(f"\nwrote {out_path}; total timed: {sum(v['run'] for v in ok.values()):.1f}s")
    for k, v in sorted(ok.items(), key=lambda kv: -kv[1]["run"])[:40]:
        ex = v.get("spark.plan.exchanges", 0)
        py = v.get("spark.plan.python_nodes", 0)
        print(f"{v['run']:8.3f}s  warm {v.get('warm', 0):7.3f}s  ex {ex:>2g}  py {py:g}  {k}")


if __name__ == "__main__":
    main()
