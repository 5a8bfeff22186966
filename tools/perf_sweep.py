"""Time every registered query at a given SF with the noop sink (guide §1.4).

Run: PYTHONPATH=. python tools/perf_sweep.py [--min3] [--isolated] \
         [sf_dir] [out.json] [key ...]

Default mode: one warmup + one timed run per key (the sweep ranks operators;
anything worth touching gets re-measured quietly). Also records plan-shape
stats: Exchange count, join strategies, Python eval nodes.

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

import io
import json
import os
import re
import subprocess
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_stats(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan))
        - len(re.findall(r"\bReusedExchange\b", plan)),
        "reused_exchanges": len(re.findall(r"\bReusedExchange\b", plan)),
        "single_partition": len(re.findall(r"SinglePartition", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "py_eval": len(re.findall(r"BatchEvalPython|ArrowEvalPython", plan)),
        "map_in_py": len(re.findall(r"MapInArrow|MapInPandas|FlatMapGroupsInPandas", plan)),
        "window": len(re.findall(r"\bWindow\b", plan)),
        "sort": len(re.findall(r"\bSort \[", plan)),
    }


def time_key(spark, fn, sf_dir: str, n_runs: int) -> dict:
    t0 = time.time()
    df = fn(spark, sf_dir)
    t_construct = time.time() - t0
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t_warm = time.time() - t0
    runs = []
    for _ in range(n_runs):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(round(time.time() - t0, 3))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    out = {
        "construct": round(t_construct, 3),
        "warm": round(t_warm, 3),
        "run": min(runs),
        **plan_stats(buf.getvalue()),
    }
    if n_runs > 1:
        out["runs"] = runs
    return out


def run_isolated(keys: list[str], sf_dir: str, n_runs: int) -> dict:
    """One subprocess (fresh JVM + SparkSession) per key; merge child JSONs."""
    results: dict[str, dict] = {}
    flag = ["--min3"] if n_runs > 1 else []
    for i, key in enumerate(keys):
        child_out = f"/tmp/perf_sweep_iso_{key}.json"
        # A failed child must report an error, not an earlier run's numbers.
        if os.path.exists(child_out):
            os.remove(child_out)
        cmd = [sys.executable, os.path.abspath(__file__), *flag, sf_dir, child_out, key]
        env = dict(os.environ, PYTHONPATH=REPO)
        proc = subprocess.run(cmd, env=env, capture_output=True, text=True)
        try:
            with open(child_out) as f:
                results.update(json.load(f))
        except Exception:  # noqa: BLE001
            results[key] = {"error": f"isolated child rc={proc.returncode}: "
                            + proc.stderr.strip()[-240:]}
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
        results = run_isolated(keys, sf_dir, n_runs)
    else:
        from e2e_etl_pipeline_spark.session import get_session  # noqa: E402

        spark = get_session("perf_sweep")
        results = {}
        for i, key in enumerate(keys):
            fn = QUERIES[key]
            spark.sparkContext.setJobDescription(f"sweep: {key}")
            try:
                results[key] = time_key(spark, fn, sf_dir, n_runs)
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
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    ok = {k: v for k, v in results.items() if "run" in v}
    print(f"\nwrote {out_path}; total timed: {sum(v['run'] for v in ok.values()):.1f}s")
    for k, v in sorted(ok.items(), key=lambda kv: -kv[1]["run"])[:40]:
        ex = v.get("exchanges", "?")
        py = v.get("py_eval", "?")
        print(f"{v['run']:8.3f}s  warm {v.get('warm', 0):7.3f}s  ex {ex:>2}  py {py}  {k}")


if __name__ == "__main__":
    main()
