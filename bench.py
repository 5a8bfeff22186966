"""Benchmark runner (driver contract: prints ONE JSON line).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is executed with a count()-style materialization (no driver
collect of the full result) and timed wall-clock. A warmup pass of the
flagship query amortizes JVM/codegen startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time


HEADLINE = [
    "q_agg_groupby",       # TPC-H Q1 shape — scan+agg throughput
    "q_join_star",         # 5-way join chain — join planning + shuffle
    "q_join_broadcast",    # broadcast dim join
    "q_window_topk_per_group",  # window + rank
    "q_agg_count_distinct",
    "q_topk",
    "q_dedup_exact",
    "q_text_wordcount",
    "q_vector_norm",
    "q_similarity_topk",
    "q_stream_tumbling",
    "q_salary_parse",
]


def _restage(sf_dir: str, n_row_groups: int = 16) -> str:
    """Rewrite every table of ``sf_dir`` as ~``n_row_groups`` row groups per
    file (same rows, same schema, multi-split layout) under /tmp, reusing a
    previous restage when the source files haven't changed since."""
    import hashlib

    import pyarrow.parquet as pq

    import glob

    # Cache key covers the restage PARAMETERS and source identity (path +
    # per-file size + mtime), not just the path: changing n_row_groups, or
    # a regenerated source (even with a preserved older mtime, via the size
    # component; even size-identical, via the mtime component) lands in a
    # fresh directory instead of silently reusing the stale layout
    # (advisor finding round 6 + review find round 7). Residual risk is
    # same-size AND preserved-mtime AND different-bytes — content-hash
    # territory, not worth GB-scale hashing in a bench warmup.
    srcs = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    ident = "|".join(
        [sf_dir, f"rg={n_row_groups}"]
        + [
            f"{os.path.basename(p)}:{os.path.getsize(p)}:{os.stat(p).st_mtime_ns}"
            for p in srcs
        ]
    )
    dst = os.path.join(
        "/tmp",
        "sf_restaged_" + hashlib.md5(ident.encode()).hexdigest()[:10],
    )
    os.makedirs(dst, exist_ok=True)

    for src in srcs:
        out = os.path.join(dst, os.path.basename(src))
        if os.path.exists(out) and os.path.getmtime(out) >= os.path.getmtime(src):
            continue
        table = pq.read_table(src)
        rows_per_group = max(1, (table.num_rows + n_row_groups - 1) // n_row_groups)
        # write-then-rename: an interrupted write must not leave a
        # fresh-mtime truncated file that every later run reuses.
        tmp = out + ".tmp"
        pq.write_table(table, tmp, row_group_size=rows_per_group)
        os.replace(tmp, out)
    return dst


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from e2e_etl_pipeline_spark.registry import QUERIES, load_all
    from e2e_etl_pipeline_spark.session import get_session

    load_all()
    spark = get_session("bench")

    # Tolerate any SPARK_GRAFT_SF_DIR shape: an incidental "sf" substring
    # (e.g. /data/transfer/x) must degrade to sf=-1.0, not crash before
    # the one-JSON-line contract is met.
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    def run_suite(data_dir: str) -> dict[str, float]:
        timings: dict[str, float] = {}
        for key in HEADLINE:
            fn = QUERIES.get(key)
            if fn is None:
                continue
            # Warm this query immediately before timing it: pays JVM start-up
            # and first-use costs (one-time, irrelevant to steady-state
            # throughput). The session's codegen cache holds every headline
            # class, so this no longer guards against codegen-cache eviction;
            # it stays so the timed window is unchanged.
            fn(spark, data_dir).write.format("noop").mode("overwrite").save()
            # Best of two timed runs: a single sample is hostage to scheduler
            # noise (a one-run outlier produced round 2's phantom 2.3×
            # count-distinct "regression"); the minimum is the standard
            # steady-state throughput estimator.
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                # noop sink: full execution, zero driver serialization.
                fn(spark, data_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            timings[key] = round(best, 3)
        return timings

    timings = run_suite(sf_dir)
    total = round(sum(timings.values()), 3)

    # Layout-controlled second pass (round-5 verdict #6): the driver's
    # regenerated sf0.1 parquet is ONE row group per file, and a row group is
    # Spark's minimum scan split, so scan+partial-agg stages serialize onto
    # one task regardless of conf (BASELINE.md round-5 note). Restage the
    # same data as 16 row groups per file once, time the same suite on it,
    # and report both in the one JSON line — separating "host vs parquet
    # layout vs plan" deltas without guessing. Failure to restage must never
    # break the one-JSON-line contract.
    restaged: dict[str, float] = {}
    try:
        restaged = run_suite(_restage(sf_dir))
    except Exception:
        pass
    restaged_total = round(sum(restaged.values()), 3) if restaged else -1.0

    # Host-speed yardstick (BASELINE.md): VM generations for this repo have
    # varied ~1.6× on identical plans, so BENCH deltas are only meaningful
    # normalized by host speed. One extra JSON key; the driver's parser
    # ignores keys it doesn't know.
    # Min of three samples: a single sample can absorb a scheduler
    # interruption and swing ~40% between consecutive runs (round-5
    # measurement), which poisons cross-round normalization; the minimum
    # is the least-interrupted estimate of true host speed.
    samples = []
    for _ in range(3):
        t0 = time.time()
        sum(range(10**7))
        samples.append((time.time() - t0) * 1000)
    host_ms = round(min(samples), 1)

    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "host_yardstick_ms": host_ms,
                # Methodology marker (round-5 advice): host_ms switched to
                # min-of-3 in round 5; single-sample values from earlier
                # BENCH_r*.json are not directly comparable.
                "host_ms_method": "min3",
                # Same suite on a 16-row-group restage of the same data
                # (multi-split scans); -1.0 = restage unavailable.
                "restaged_total": restaged_total,
                "queries_restaged": restaged,
                # Cores the timed session ran on (its defaultParallelism).
                "cpus": spark.sparkContext.defaultParallelism,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
