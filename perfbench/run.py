"""Engine benchmark: one workload per run, a closed loop of one operation at
a time on ``local[<cores>]``, outputs checked once per run.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 6 --trace 0

Workloads (inputs are generated from ``--seed`` under ``.perfbench_work/``):

* ``headline``    — the 12 bench.py headline query keys on seeded tables of
  the sf0.1 row counts and shapes; each pass runs every key once, in a
  seed-permuted order.
* ``offers_etl``  — the paper's daily job on a raw zone: ``ingest`` appends
  today's landing documents as the newest ``ingest_date`` partition,
  ``transform`` reads the latest partition, parses the offers and stages
  them as CSV. The benchmark removes the ingested partition after each pass.

Set-up (session start, registry load, package shipping and ``WARM_PASSES``
full passes of the same operations the loop times) is ``setup_s``. The
outputs are checked once, by one more untimed pass between set-up and the
timed loop (which doubles as a last warm-up): every query key is collected
and compared with its DuckDB oracle, the CSV that pass stages with the rows
the generator expects. A run then times whole passes until ``--seconds``
have passed (at least two) and reports medians over them. With
``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` untraced and traced passes alternate (U T T U ...) and it
holds the per-layer metrics (summed per traced pass, median over passes)
and the tracing overhead. Spans and a full result record with run metadata
go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import csv
import glob
import hashlib
import json
import os
import platform
import random
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

HEADLINE = [
    "q_agg_groupby",
    "q_join_star",
    "q_join_broadcast",
    "q_window_topk_per_group",
    "q_agg_count_distinct",
    "q_topk",
    "q_dedup_exact",
    "q_text_wordcount",
    "q_vector_norm",
    "q_similarity_topk",
    "q_stream_tumbling",
    "q_salary_parse",
]
WORKLOADS = ("headline", "offers_etl")
# Offers per landing document, on average (64 documents a day): about 9.6k
# offers, a transform of a second or two, so a whole run stays under a minute.
OFFERS_PER_DOC = 150
# Warm-up passes in set-up, the first of them cold. With the check pass
# after them, timing starts at a headline run's third pass and an offers
# run's fourth. The JVM keeps compiling for many passes after the first, but
# a headline run has to stay near a minute; an offers pass costs half a
# headline pass.
WARM_PASSES = {"headline": 1, "offers_etl": 2}

# Wall time per pass (``pass_s``) is per-layer: on a few shared virtual
# CPUs it follows the time the hypervisor takes from them, which lasts for
# whole runs, so it does not repeat from run to run. CPU seconds leave most
# of that time out.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
# Per-operation latency pooled over keys and passes is a mixture of unlike
# operations and does not repeat from run to run either, so it is reported
# here with ``pass_s``, beside the layers.
PER_LAYER = {
    "pass_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "session.start_s": "s",
    "registry.load_all_s": "s",
    "shipping.ship_s": "s",
    "setup.warm_s": "s",
    "queries.construct_s": "s",
    "queries.construct_py4j_calls": "count",
    "queries.construct_jobs": "count",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "spark.catalyst.plan_s": "s",
    "spark.plan.exchanges": "count",
    "spark.plan.reused_exchanges": "count",
    "spark.plan.smj": "count",
    "spark.plan.bhj": "count",
    "spark.plan.python_nodes": "count",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.wall_s": "s",
    "spark.exec.run_s": "s",
    "spark.exec.cpu_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.idle_core_s": "s",
    "spark.exec.failed_tasks": "count",
    "spark.shuffle.write_bytes": "B",
    "spark.shuffle.read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.scan.input_bytes": "B",
    "spark.scan.input_records": "count",
    "spark.python.rows_sent": "count",
    "spark.python.rows_received": "count",
    "spark.python.bytes_sent": "B",
    "spark.python.bytes_received": "B",
    "spark.python.run_s": "s",
    "sources.raw_zone.write_s": "s",
    "sources.raw_zone.files_read": "count",
    "sources.raw_zone.latest_files_ratio": "ratio",
    "pipeline.extract_s": "s",
    "pipeline.stage_csv_s": "s",
    "pipeline.sink_files": "count",
    "pipeline.sink_bytes": "B",
    "pipeline.offers_per_s": "1/s",
    "pipeline.staging_bytes_per_offer": "B",
    "trace.overhead_s": "s",
}


def _prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and size the session to this machine."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    import tempfile

    tempfile.tempdir = tmp


class Bench:
    def __init__(self, args) -> None:
        from layers import Tracer

        self.args = args
        self.workload = args.workload
        self.rng = random.Random(f"order/{args.seed}")
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{args.trace}")
        self.checks_attempted = 0
        self.checks_failed = 0
        self.ops_attempted = 0
        self.ops_failed = 0
        self.meta: dict = {}
        self.layer: dict[str, float] = {}

    # --- set-up ---------------------------------------------------------

    def make_inputs(self) -> None:
        import inputs

        with self.tracer.span("inputs.generate"):
            if self.workload == "offers_etl":
                self.offers = inputs.write_offers_inputs(
                    os.path.join(WORK, "offers"), self.args.seed, OFFERS_PER_DOC
                )
                self.meta["row_groups"] = {"landing": 1}
            else:
                self.sf_dir = os.path.join(WORK, "tables")
                self.meta["row_groups"] = inputs.write_tables(self.sf_dir, self.args.seed)

    def start(self) -> None:
        t = self.tracer
        with t.span("import", kind="setup"):
            from e2e_etl_pipeline_spark import registry, session, shipping

        with t.span("session.start", kind="setup"):
            self.spark = session.get_session(
                "perfbench",
                extra_conf={"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")},
            )
        with t.span("registry.load_all", kind="setup"):
            registry.load_all()
        with t.span("shipping.ship", kind="setup"):
            shipping.ensure_package_shipped(self.spark)
        self.queries = registry.QUERIES
        self.oracles = registry.ORACLES

    def warm(self) -> None:
        """``WARM_PASSES`` full passes of exactly the operations the loop
        times."""
        with self.tracer.span("setup.warm", kind="setup"):
            for _ in range(WARM_PASSES[self.workload]):
                for op in self.pass_ops():
                    self.run_op(op, traced=False)
                if self.workload == "offers_etl":
                    self._reset_zone()

    # --- operations -----------------------------------------------------

    def pass_ops(self) -> list[str]:
        if self.workload == "offers_etl":
            return ["ingest", "transform"]
        keys = list(HEADLINE)
        self.rng.shuffle(keys)
        return keys

    def run_op(self, op: str, traced: bool) -> float:
        """One operation; returns its wall seconds."""
        if self.workload == "offers_etl":
            return self._offers_op(op, traced)
        t, spark = self.tracer, self.spark
        group = f"{self.tracer.run_id}/{len(t.spans)}"
        if traced:
            spark.sparkContext.setJobGroup(group + "/c", op)
        t0 = time.perf_counter()
        with t.span("op", key=op):
            with self._construct("queries.construct", op, traced):
                df = self.queries[op](spark, self.sf_dir)
            if traced:
                spark.sparkContext.setJobGroup(group + "/x", op)
                self._plan(df, op)
            with t.span("spark.execute", kind="execute", key=op):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        if traced:
            self._read_spark_stats(group, op)
        return wall

    @contextlib.contextmanager
    def _construct(self, name: str, op: str, traced: bool):
        """A construction span; traced, it also counts the py4j calls."""
        with self.tracer.span(name, kind="construct", key=op) as sp:
            if not traced:
                yield
                return
            from layers import Py4jCounter

            with Py4jCounter(self.spark) as calls:
                yield
            sp["py4j_calls"] = calls.calls

    def _plan(self, df, op: str) -> None:
        """Catalyst time, taken by forcing the frame's own executed plan.
        The noop write that follows plans its write command again, so this
        is a proxy for the planning inside spark.execute, and its cost
        shows up in trace.overhead_s."""
        with self.tracer.span("spark.catalyst.plan", kind="plan", key=op):
            df._jdf.queryExecution().executedPlan()  # noqa: SLF001

    def _offers_op(self, op: str, traced: bool, out: str | None = None) -> float:
        from e2e_etl_pipeline_spark.pipeline import offers as pipeline
        from e2e_etl_pipeline_spark.sources import raw_zone

        t, spark = self.tracer, self.spark
        zone = self.offers["zone"]
        group = f"{self.tracer.run_id}/{len(t.spans)}"
        if traced:
            spark.sparkContext.setJobGroup(group + "/c", op)
        t0 = time.perf_counter()
        with t.span("op", key=op):
            if op == "ingest":
                with self._construct("sources.raw_zone.landing", op, traced):
                    landing = spark.read.schema(LANDING_SCHEMA).parquet(self.offers["landing"])
                if traced:
                    spark.sparkContext.setJobGroup(group + "/x", op)
                with t.span("sources.raw_zone.write_raw", kind="execute", key=op):
                    raw_zone.write_raw(landing, zone)
            else:
                out = out or os.path.join(WORK, "staging", str(len(t.spans)))
                with self._construct("sources.raw_zone.read_latest", op, traced):
                    latest = raw_zone.read_latest(spark, zone)
                with self._construct("pipeline.parse_offers", op, traced):
                    staged = pipeline.parse_offers(latest)
                if traced:
                    spark.sparkContext.setJobGroup(group + "/x", op)
                    self._plan(staged, op)
                with t.span("pipeline.stage_csv", kind="execute", key=op):
                    pipeline.offers_to_staging_csv(staged, out)
        wall = time.perf_counter() - t0
        if traced:
            stats = self._read_spark_stats(group, op)
            if op == "ingest":
                self.layer["_today_files"] = len(self._today_files())
            else:
                files = _csv_parts(out)
                self._add("pipeline.sink_files", len(files))
                self._add("pipeline.sink_bytes", sum(os.path.getsize(f) for f in files))
                self._add("sources.raw_zone.files_read", stats.get("spark.scan.files_read", 0))
        return wall

    def _today_files(self) -> list[str]:
        day = self.offers["today"].isoformat()
        return glob.glob(os.path.join(self.offers["zone"], "*", "*", "*", f"ingest_date={day}", "*.parquet"))

    def _extract_only(self) -> None:
        """The DOM walk alone (extract_offers over the latest partition),
        run after a traced offers pass; re-ingests today's partition."""
        from e2e_etl_pipeline_spark.pipeline import offers as pipeline
        from e2e_etl_pipeline_spark.sources import raw_zone

        self._offers_op("ingest", traced=False)
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.extract", kind="execute"):
            raw = raw_zone.read_latest(self.spark, self.offers["zone"])
            pipeline.extract_offers(raw).write.format("noop").mode("overwrite").save()
        self._add("pipeline.extract_s", time.perf_counter() - t0)
        self._reset_zone()

    def _reset_zone(self) -> None:
        for d in {os.path.dirname(f) for f in self._today_files()}:
            shutil.rmtree(d)
        shutil.rmtree(os.path.join(WORK, "staging"), ignore_errors=True)

    def _add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def _read_spark_stats(self, group: str, op: str) -> dict:
        stats = self.stats
        stats.drain()
        construct_jobs = stats.jobs(group + "/c")
        jobs = construct_jobs + stats.jobs(group + "/x")
        totals = stats.stage_totals(jobs)
        totals.update(stats.new_plans())
        self._add("queries.construct_jobs", len(construct_jobs))
        for k, v in totals.items():
            self._add(k, v)
        with self.tracer.span("spark.stats", key=op) as sp:
            sp.update({k: v for k, v in totals.items()})
        return totals

    # --- output check (the benchmark's own work: untimed) -------------------

    def check(self) -> None:
        with self.tracer.span("check"):
            if self.workload == "offers_etl":
                self.checks_attempted += 1
                out = os.path.join(WORK, "checked_staging")
                try:
                    self._offers_op("ingest", traced=False)
                    self._offers_op("transform", traced=False, out=out)
                    ok = self._check_offers(out)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                self._reset_zone()
                if not ok:
                    self.checks_failed += 1
                return
            for key in HEADLINE:
                self.checks_attempted += 1
                try:
                    frame = self.queries[key](self.spark, self.sf_dir).toPandas()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.checks_failed += 1
                    continue
                if not self._check_query(key, frame):
                    self.checks_failed += 1

    def _check_query(self, key: str, frame) -> bool:
        from e2e_etl_pipeline_spark.testing import compare_frames

        try:
            if key not in self.oracles:
                return len(frame) > 0
            expected = self._duck().execute(self.oracles[key]).df()
            errors = compare_frames(frame, expected)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return False
        if errors:
            print(f"check failed: {key}: {errors[:3]}", file=sys.stderr)
        return not errors

    def _duck(self):
        if not hasattr(self, "_duck_con"):
            import duckdb

            from e2e_etl_pipeline_spark.catalog import TABLES

            self._duck_con = duckdb.connect()
            for name in TABLES:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                self._duck_con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
        return self._duck_con

    def _check_offers(self, out: str) -> bool:
        got = collections.Counter()
        parts = _csv_parts(out)
        for part in parts:
            with open(part, newline="", encoding="utf-8") as f:
                rows = list(csv.reader(f))
            if not rows or rows[0] != STAGING_HEADER:
                print(f"check failed: bad header in {part}", file=sys.stderr)
                return False
            got.update(tuple(r) for r in rows[1:])
        self.meta["staged_offers"] = sum(got.values())
        self.meta["staged_bytes"] = sum(os.path.getsize(p) for p in parts)
        want = collections.Counter(self.offers["expected"])
        if got != want:
            extra, missing = got - want, want - got
            print(
                f"check failed: staged CSV differs: {sum(extra.values())} unexpected, "
                f"{sum(missing.values())} missing, e.g. {list(extra)[:2]} / {list(missing)[:2]}",
                file=sys.stderr,
            )
            return False
        return True

    # --- timed loop -----------------------------------------------------

    def timed_loop(self) -> None:
        from layers import reset_peak_rss, steal_s, tree_cpu_s, tree_peak_rss_mb

        reset_peak_rss()
        if self.args.trace:
            from layers import SparkStats

            self.stats = SparkStats(self.spark)
        self.passes: list[dict] = []
        # Whole passes, started until the window has passed: at least two, so
        # a slow first pass is never the median alone, and in trace mode at
        # least one untraced and one traced. Untraced and traced passes
        # alternate U T T U U T ..., so a steady drift cancels out of the
        # tracing overhead.
        t0 = time.perf_counter()
        while len(self.passes) < 2 or time.perf_counter() - t0 < self.args.seconds:
            traced = bool(self.args.trace) and len(self.passes) % 4 in (1, 2)
            stolen = steal_s()
            self.passes.append(self._one_pass(traced, tree_cpu_s))
            self.passes[-1]["steal"] = steal_s() - stolen
        self.peak_rss_mb = tree_peak_rss_mb()

    def _one_pass(self, traced: bool, cpu_clock) -> dict:
        undo = None
        if traced:
            undo = self._install_wrappers()
            self.stats.skip_to_now()
        before = dict(self.layer)
        walls = {}
        cpu0 = cpu_clock()
        with self.tracer.span("pass", traced=traced) as sp:
            for op in self.pass_ops():
                self.ops_attempted += 1
                try:
                    walls[op] = self.run_op(op, traced)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.ops_failed += 1
        cpu = cpu_clock() - cpu0
        if undo:
            undo()
        rec = {"traced": traced, "wall": sum(walls.values()), "cpu": cpu, "ops": walls, "span": sp["id"]}
        if self.workload == "offers_etl":
            if traced:
                self._add("sources.raw_zone.write_s", walls.get("ingest", 0.0))
                self._add("pipeline.stage_csv_s", walls.get("transform", 0.0))
                files_read = self.layer.get("sources.raw_zone.files_read", 0) - before.get(
                    "sources.raw_zone.files_read", 0
                )
                self._add("_latest_ratio", self.layer.pop("_today_files", 0) / max(1.0, files_read))
            self._reset_zone()
            if traced:
                self._extract_only()
        if traced:
            rec["layer"] = {k: v - before.get(k, 0.0) for k, v in self.layer.items()}
        return rec

    def _install_wrappers(self):
        """Spans around catalog.load_table wherever the query modules
        imported it."""
        from e2e_etl_pipeline_spark import catalog
        from layers import wrap_everywhere

        tracer = self.tracer

        def make(orig):
            def load_table(*a, **kw):
                with tracer.span("catalog.load_table", kind="load_table"):
                    return orig(*a, **kw)

            return load_table

        return wrap_everywhere(catalog, "load_table", make)

    # --- results ----------------------------------------------------------

    def setup_s(self) -> float:
        return sum(
            s["end"] - s["start"] for s in self.tracer.spans if s.get("kind") == "setup"
        )

    def plain(self) -> list[dict]:
        return [p for p in self.passes if not p["traced"]]

    def pass_s(self, passes: list[dict]) -> float:
        """The median pass: each operation's median wall over the passes,
        summed. One slow operation in one pass does not move it."""
        from layers import median

        ops = {op for p in passes for op in p["ops"]}
        return sum(median([p["ops"][op] for p in passes if op in p["ops"]]) for op in ops)

    def end_to_end(self) -> dict[str, float]:
        from layers import median

        plain = self.plain()
        return {
            "setup_s": self.setup_s(),
            "cpu_s": median([p["cpu"] for p in plain]),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def offers_rates(self) -> dict[str, float]:
        """Offers staged per second of ``transform`` (untraced passes) and
        staged CSV bytes per offer (the checked output)."""
        from layers import median

        transform = median([p["ops"]["transform"] for p in self.plain() if "transform" in p["ops"]])
        n_offers = len(self.offers["expected"])
        return {
            "pipeline.offers_per_s": n_offers / transform if transform else 0.0,
            "pipeline.staging_bytes_per_offer": self.meta.get("staged_bytes", 0) / n_offers,
        }

    def per_layer(self) -> dict[str, float]:
        from layers import median, percentile, self_times, tail

        spans = self.tracer.spans
        self_s = self_times(spans)
        by_id = {s["id"]: s for s in spans}
        traced = [p for p in self.passes if p["traced"]]
        plain = self.plain()
        rows = []
        for p in traced:
            row = collections.defaultdict(float, p["layer"])
            pass_span = by_id[p["span"]]
            for s in spans:
                if not (pass_span["start"] <= s["start"] and s["end"] <= pass_span["end"]):
                    continue
                kind = s.get("kind")
                if kind == "construct":
                    row["queries.construct_s"] += self_s[s["id"]]
                    row["queries.construct_py4j_calls"] += s.get("py4j_calls", 0)
                elif kind == "load_table":
                    row["catalog.load_table_calls"] += 1
                    row["catalog.load_table_s"] += self_s[s["id"]]
                elif kind == "plan":
                    row["spark.catalyst.plan_s"] += self_s[s["id"]]
                elif kind == "execute":
                    row["spark.exec.wall_s"] += s["end"] - s["start"]
            row["spark.exec.idle_core_s"] = (
                row["spark.exec.wall_s"] * self.stats.cores - row["spark.exec.run_s"]
            )
            row["sources.raw_zone.latest_files_ratio"] = row.pop("_latest_ratio", 0.0)
            rows.append(row)
        out = {k: median([r.get(k, 0.0) for r in rows]) for k in PER_LAYER}
        out["pass_s"] = self.pass_s(plain)
        setup = {s["name"]: s["end"] - s["start"] for s in spans if s.get("kind") == "setup"}
        out["session.start_s"] = setup["session.start"]
        out["registry.load_all_s"] = setup["registry.load_all"]
        out["shipping.ship_s"] = setup["shipping.ship"]
        out["setup.warm_s"] = setup["setup.warm"]
        if self.workload == "offers_etl":
            out.update(self.offers_rates())
        out["trace.overhead_s"] = self.pass_s(traced) - self.pass_s(plain)
        op_walls = [w for p in plain for w in p["ops"].values()]
        level, out["op_s_tail"], n = tail(op_walls)
        out["op_s_p50"] = percentile(op_walls, 50.0)
        self.meta["op_s_tail"] = {"percentile": level, "samples": n}
        return out

    def metadata(self) -> dict:
        import pyarrow
        import pyspark

        attempted = self.ops_attempted + self.checks_attempted
        meta = {
            **self.meta,
            "workload": self.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark_default_parallelism": self.spark.sparkContext.defaultParallelism,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "git_commit": _git_commit(),
            "source_digest": _source_digest(),
            "ops_attempted": self.ops_attempted,
            "checks_attempted": self.checks_attempted,
            "failed_ratio": (self.ops_failed + self.checks_failed) / max(1, attempted),
            "pass_s": self.pass_s(self.plain()),
            "pass_walls": [round(p["wall"], 4) for p in self.passes],
            "pass_cpu_s": [round(p["cpu"], 2) for p in self.passes],
            "pass_traced": [p["traced"] for p in self.passes],
            "pass_steal_s": [round(p["steal"], 2) for p in self.passes],
        }
        if self.workload == "offers_etl":
            meta.update(self.offers_rates())
        return meta


LANDING_SCHEMA = (
    "doc_id long, site string, region string, experience string, "
    "ingest_date date, html string"
)
STAGING_HEADER = ["position", "company_name", "minimum", "maximum", "currency", "pay_period"]


def _csv_parts(out: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out, "part-*.csv")))


def _git_commit() -> str | None:
    """HEAD's commit when the checkout is a git work tree (read from
    .git, no subprocess); None otherwise."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def _source_digest() -> str:
    """sha1 over the engine package's source files, so records from
    checkouts without git still name the code they measured."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "e2e_etl_pipeline_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def stop_spark(spark) -> None:
    """Stop the session, end the JVM gateway process and wait until every
    process it started (Python workers included) has exited."""
    from pyspark import SparkContext

    from layers import process_tree

    descendants = set(process_tree()) - {os.getpid()}
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants & set(process_tree()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants & set(process_tree()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "e2e_etl_pipeline_spark")):
        print("perfbench: engine package e2e_etl_pipeline_spark not found", file=sys.stderr)
        return 2
    _prepare_environment()
    bench = Bench(args)
    bench.make_inputs()
    bench.start()
    try:
        bench.warm()
        bench.check()
        bench.timed_loop()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        meta = bench.metadata()
    finally:
        stop_spark(bench.spark)
    units = PER_LAYER if args.trace else END_TO_END
    failed = bench.ops_failed + bench.checks_failed
    result = {
        "correct": failed == 0,
        "attempted": bench.ops_attempted + bench.checks_attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    bench.tracer.write(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump({"meta": meta, **result}, f, indent=1, default=str)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"meta": meta}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
