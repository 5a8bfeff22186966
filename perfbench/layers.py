"""Measurement helpers: spans, percentiles, process-tree counters, and the
per-layer readers for Spark's status store and executed plans.

Everything here observes the engine from outside: spans wrap calls into
the engine's public functions, Spark numbers come from the application
status store (which Spark keeps even with ``spark.ui.enabled=false``) and
from the SQL plan graph of each finished execution.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import statistics
import sys
import time
from collections import defaultdict


# --- spans ---------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end of the run."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part of it covered by its
    children (overlapping children are merged, not double-counted)."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --- statistics ----------------------------------------------------------

TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values: list[float]) -> tuple[float, float, int]:
    """(level, value, n): the highest of TAIL_LEVELS that leaves at least
    ten samples above its nearest-rank position; the median when too few
    samples exist for any higher level."""
    n = len(values)
    for p in TAIL_LEVELS:
        if n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            return p, percentile(values, p), n
    return 50.0, percentile(values, 50.0), n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- process tree --------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2 :].split()
        table[int(name)] = (int(rest[1]), rest)
    return table


def process_tree(root: int | None = None) -> dict[int, list[str]]:
    """pid → /proc stat fields (after the command name) for ``root`` and
    every live descendant."""
    root = root or os.getpid()
    table = _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1]
            todo.extend(kids[pid])
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for rest in process_tree(root).values():
        total += sum(int(rest[i]) for i in (11, 12, 13, 14))
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's virtual
    CPUs since boot, summed over CPUs (the ``steal`` column of
    /proc/stat); 0 where the kernel does not report it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live process's high-water RSS (VmHWM)."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def reset_peak_rss(root: int | None = None) -> None:
    """Restart every live process's high-water RSS from its current RSS
    (``clear_refs`` 5), so a later ``tree_peak_rss_mb`` covers only what
    ran since. Kernels without it leave the high-water mark as it was."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


# --- monkeypatching from outside ------------------------------------------


def wrap_everywhere(owner, name: str, make_wrapper):
    """Replace ``owner.name`` with ``make_wrapper(original)`` in ``owner``
    and in every loaded module that imported it by name. Returns an undo
    function."""
    orig = getattr(owner, name)
    wrapped = make_wrapper(orig)
    patched = [owner]
    for mod in list(sys.modules.values()):
        if mod is not owner and getattr(mod, name, None) is orig:
            patched.append(mod)
    for mod in patched:
        setattr(mod, name, wrapped)

    def undo():
        for mod in patched:
            setattr(mod, name, orig)

    return undo


class Py4jCounter:
    """Counts py4j commands sent from Python to the JVM. Not counted:
    the release messages py4j sends when Python garbage-collects a proxy,
    since when those run depends on the collector, not on the code."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
        self.calls = 0

    def __enter__(self):
        from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

        orig = self.client.send_command
        release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

        def counted(command, *a, **kw):
            if not command.startswith(release):
                self.calls += 1
            return orig(command, *a, **kw)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # back to the class method
        return False


# --- Spark status store and plan graph ------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A rendered SQL metric ("1,600", "186.7 KiB", "274 ms", or the
    multi-task "total (min, med, max ...)\\n<total> (...)") → bytes,
    seconds or a count."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


# Plan-graph node name → plan-shape counter.
PLAN_NODES = {
    "Exchange": "spark.plan.exchanges",
    "BroadcastExchange": "spark.plan.exchanges",
    "ReusedExchange": "spark.plan.reused_exchanges",
    "SortMergeJoin": "spark.plan.smj",
    "BroadcastHashJoin": "spark.plan.bhj",
}
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"
ROWS = "number of output rows"
SHUFFLE_ROWS = "shuffle records written"


class SparkStats:
    """Per-job-group numbers from Spark's status store and the final (AQE)
    plan graph of each SQL execution."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = spark._jvm  # noqa: SLF001
        self.sc = sc
        self.jsc = sc._jsc.sc()  # noqa: SLF001
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.cores = sc.defaultParallelism
        self.last_execution = -1
        self.skip_to_now()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def _new_execution_ids(self) -> list[int]:
        n = self.sql.executionsCount()
        window = min(n, 64)
        ids = []
        if window:
            lst = self.sql.executionsList(n - window, window)
            ids = [lst.apply(i).executionId() for i in range(window)]
        new = [i for i in ids if i > self.last_execution]
        self.last_execution = max([self.last_execution, *ids])
        return new

    def skip_to_now(self) -> None:
        """Forget the executions so far: the next new_plans() call reports
        only what starts after this point."""
        self._new_execution_ids()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        return [self._json(self.store.job(j)) for j in ids]

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            st = self._json(self.store.lastStageAttempt(sid))
            if st["status"] == "SKIPPED":
                continue
            out["spark.exec.stages"] += 1
            out["spark.exec.tasks"] += st["numTasks"]
            out["spark.exec.failed_tasks"] += st["numFailedTasks"]
            out["spark.exec.run_s"] += st["executorRunTime"] / 1e3
            out["spark.exec.cpu_s"] += (
                st["executorCpuTime"] + st["executorDeserializeCpuTime"]
            ) / 1e9
            out["spark.exec.gc_s"] += st["jvmGcTime"] / 1e3
            out["spark.shuffle.write_bytes"] += st["shuffleWriteBytes"]
            out["spark.shuffle.read_bytes"] += st["shuffleReadBytes"]
            out["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            out["spark.scan.input_bytes"] += st["inputBytes"]
            out["spark.scan.input_records"] += st["inputRecords"]
        out["spark.exec.jobs"] += len(jobs)
        return out

    def new_plans(self) -> dict[str, float]:
        """Plan-shape counts and Python-node metrics summed over every SQL
        execution that started since the previous call."""
        out: dict[str, float] = defaultdict(float)
        for eid in self._new_execution_ids():
            graph = self._json(self.sql.planGraph(eid))
            values = self._json(self.sql.executionMetrics(eid))
            nodes = {n["id"]: n for n in _walk(graph["nodes"])}
            metrics = {
                i: {m["name"]: values.get(str(m["accumulatorId"])) for m in n["metrics"]}
                for i, n in nodes.items()
            }
            # Plan-graph edges run from a child to the node that consumes it.
            inputs = defaultdict(list)
            for e in graph["edges"]:
                inputs[e["toId"]].append(e["fromId"])
            for i, node in nodes.items():
                name, m = node["name"], metrics[i]
                if name in PLAN_NODES:
                    out[PLAN_NODES[name]] += 1
                if PY_SENT in m:
                    out["spark.plan.python_nodes"] += 1
                    out["spark.python.rows_sent"] += _rows_into(i, inputs, metrics)
                    for label, key in (
                        (PY_SENT, "spark.python.bytes_sent"),
                        (PY_RECV, "spark.python.bytes_received"),
                        (PY_RUN, "spark.python.run_s"),
                        (ROWS, "spark.python.rows_received"),
                    ):
                        if m.get(label):
                            out[key] += parse_metric(m[label])
                if name.startswith("Scan") and m.get("number of files read"):
                    out["spark.scan.files_read"] += parse_metric(m["number of files read"])
        return out


def _rows_into(node: int, inputs: dict, metrics: dict) -> float:
    """Rows a plan node consumed: the output rows of each input, looking
    through row-preserving nodes (sort, exchange) that count none."""
    total = 0.0
    for child in inputs[node]:
        m = metrics[child]
        text = m.get(ROWS) or m.get(SHUFFLE_ROWS)
        total += parse_metric(text) if text else _rows_into(child, inputs, metrics)
    return total


def _walk(nodes):
    for n in nodes:
        yield n
        yield from _walk(n.get("nodes", []))
