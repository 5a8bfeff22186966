"""Tests of the benchmark's own parts: input determinism, the offers
expected-rows oracle, the tail-percentile and span self-time helpers, and
the repeatability of construction py4j counts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import collections
import csv
import glob
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


# --- pure helpers ----------------------------------------------------------


def test_benchmark_json_names_what_run_prints():
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, printed in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[key]} == printed
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_landing_is_byte_identical_per_seed(tmp_path):
    a = inputs.write_offers_inputs(str(tmp_path / "a"), seed=7, mean_offers=5)
    b = inputs.write_offers_inputs(str(tmp_path / "b"), seed=7, mean_offers=5)
    c = inputs.write_offers_inputs(str(tmp_path / "c"), seed=8, mean_offers=5)
    read = lambda d: open(d["landing"], "rb").read()  # noqa: E731
    assert read(a) == read(b)
    assert read(a) != read(c)
    assert a["expected"] == b["expected"]


def test_tables_are_identical_per_seed(tmp_path):
    inputs.write_tables(str(tmp_path / "a"), seed=3, scale=0.01)
    inputs.write_tables(str(tmp_path / "b"), seed=3, scale=0.01)
    for path in glob.glob(str(tmp_path / "a" / "*.parquet")):
        other = tmp_path / "b" / os.path.basename(path)
        assert open(path, "rb").read() == open(other, "rb").read()


def test_offers_cover_every_salary_shape():
    _, expected = inputs.make_offers_day(5, inputs.INGEST_TODAY, 60)
    currencies = {r[4] for r in expected}
    periods = {r[5] for r in expected}
    assert currencies == {"", "PLN", "EUR", "USD", "CHF", "GBP"}
    assert periods == {"", "month", "h", "rok", "dzień", "tydzień"}
    assert any(r[2] != r[3] and r[2] for r in expected)  # ranges
    assert any(r[2] == r[3] and r[2] for r in expected)  # single amounts
    assert any("." in r[2] for r in expected)  # comma decimals


@pytest.mark.parametrize(
    "n, level",
    [(1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0), (100, 90.0),
     (40, 75.0), (20, 50.0), (12, 50.0), (1, 50.0)],
)
def test_tail_picks_highest_level_with_ten_beyond(n, level):
    values = [float(i) for i in range(1, n + 1)]
    got_level, value, count = layers.tail(values)
    assert (got_level, count) == (level, n)
    assert value == layers.percentile(values, level)
    if n >= 20:
        assert sum(v > value for v in values) >= 10


def test_percentile_is_nearest_rank():
    assert layers.percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50.0) == 3.0
    assert layers.percentile([1.0, 2.0, 3.0, 4.0], 75.0) == 3.0
    assert layers.percentile([1.0, 2.0, 3.0, 4.0], 100.0) == 4.0


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),  # child
        _span(2, 0, 3.0, 6.0),  # overlaps child 1: union 1..6
        _span(3, 0, 8.0, 12.0),  # runs past the parent: clipped to 8..10
        _span(4, 1, 1.5, 2.0),  # grandchild: only its own parent loses it
    ]
    self_s = layers.self_times(spans)
    assert self_s[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert self_s[1] == pytest.approx(3.0 - 0.5)
    assert self_s[2] == pytest.approx(3.0)
    assert self_s[4] == pytest.approx(0.5)


def test_tracer_records_parents():
    t = layers.Tracer("r")
    with t.span("a"):
        with t.span("b"):
            pass
    with t.span("c"):
        pass
    assert [(s["name"], s["parent"], s["run"]) for s in t.spans] == [
        ("a", None, "r"), ("b", 0, "r"), ("c", None, "r")
    ]
    assert all(s["end"] >= s["start"] for s in t.spans)


def test_parse_metric_units():
    assert layers.parse_metric("1,600") == 1600
    assert layers.parse_metric("186.7 KiB") == pytest.approx(186.7 * 1024)
    assert layers.parse_metric("274 ms") == pytest.approx(0.274)
    assert layers.parse_metric("1.9 s") == pytest.approx(1.9)
    multi = "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 KiB, 1.0 KiB, 1.0 MiB (stage 8.0: task 19))"
    assert layers.parse_metric(multi) == 2 * 2**20


def test_rows_into_looks_through_row_preserving_nodes():
    # 3 <- 2 (sort, no row count) <- 1 (scan, 7 rows); 3 <- 4 (exchange, 5 records)
    inputs_of = {3: [2, 4], 2: [1], 1: [], 4: []}
    metrics = {
        1: {layers.ROWS: "7"},
        2: {},
        3: {layers.ROWS: "2"},
        4: {layers.SHUFFLE_ROWS: "5"},
    }
    assert layers._rows_into(3, inputs_of, metrics) == 12  # noqa: SLF001


# --- against the engine ---------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from e2e_etl_pipeline_spark.registry import load_all
    from e2e_etl_pipeline_spark.session import get_session
    from e2e_etl_pipeline_spark.shipping import ensure_package_shipped

    s = get_session("perfbench-test")
    load_all()
    ensure_package_shipped(s)
    return s


def test_expected_rows_match_parse_offers(spark, tmp_path):
    from e2e_etl_pipeline_spark.pipeline.offers import offers_to_staging_csv, parse_offers

    day = inputs.make_offers_day(11, inputs.INGEST_TODAY, 40)
    table, expected = day
    docs = spark.createDataFrame(table.select(["doc_id", "site", "html"]).to_pandas())
    out = str(tmp_path / "staged")
    offers_to_staging_csv(parse_offers(docs), out)
    got = collections.Counter()
    for part in run._csv_parts(out):  # noqa: SLF001
        with open(part, newline="", encoding="utf-8") as f:
            rows = list(csv.reader(f))
        assert rows[0] == run.STAGING_HEADER
        got.update(tuple(r) for r in rows[1:])
    assert got == collections.Counter(expected)


def test_construction_py4j_counts_repeat(spark, tmp_path):
    from e2e_etl_pipeline_spark.registry import QUERIES

    sf = str(tmp_path / "tables")
    inputs.write_tables(sf, seed=1, scale=0.01)
    # Every headline key repeats its count exactly once warm. (Counted raw,
    # py4j's garbage-collection release messages made counts differ from
    # pass to pass; Py4jCounter leaves them out.)
    unstable = {}
    for key in run.HEADLINE:
        counts = []
        for _ in range(3):
            with layers.Py4jCounter(spark) as calls:
                df = QUERIES[key](spark, sf)
            df.write.format("noop").mode("overwrite").save()
            counts.append(calls.calls)
        # The first construction warms per-session caches; compare the
        # two warm ones.
        if counts[1] != counts[2]:
            unstable[key] = counts
    assert not unstable, unstable
