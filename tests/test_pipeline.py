"""Golden end-to-end pipeline test (SURVEY.md §5.2 item 3): synthetic HTML
shaped like both sites' DOM contracts (FIXTURES.md §1.3) → parse_offers →
expected typed rows; plus the reference-compatible CSV sink (""-for-NULL).
"""

from __future__ import annotations

import csv
import glob
import shutil
import tempfile

import pyarrow as pa
import pytest

from e2e_etl_pipeline_spark.pipeline.offers import (
    _PARSERS,
    RAW_OFFER_SCHEMA,
    _parse_batch,
    extract_offers,
    offers_to_staging_csv,
    parse_offers,
)

JJIT_HTML = (
    "<ul>"
    '<li data-index="0"><h3>Junior Python Developer</h3>'
    "<a><div><div><div><div><div><div><p>Acme Sp. z o.o.</p>"
    "</div></div></div></div></div></div></a>"
    "<h6><span>8000</span><span>PLN/month</span></h6></li>"
    '<li data-index="1"><h3>Señor Data – Engineer</h3>'
    "<h6><span>11 000</span><span>12 000</span><span>PLN/month</span></h6></li>"
    '<li data-index="2"><h3>No Salary Role</h3><h6></h6></li>'
    "</ul>"
)

PPL_HTML = (
    "<html><body><div data-test='section-offers'>"
    "<div data-test='default-offer'>"
    "<a data-test='link-offer-title'>Staff SRE</a>"
    "<h3 data-test='text-company-name'>Initech</h3>"
    "<span data-test='offer-salary'>11\xa0000–12\xa0000 zł brutto / mies.</span>"
    "</div>"
    "<div data-test='default-offer'>"
    "<a data-test='link-offer-title'>Analyst</a>"
    "<h3 data-test='text-company-name'>Hooli</h3>"
    "<span data-test='offer-salary'>31,25 zł / godz.</span>"
    "</div>"
    "</div></body></html>"
)


def _parse(spark):
    docs = spark.createDataFrame(
        [(0, "jjit", JJIT_HTML), (1, "ppl", PPL_HTML)],
        "doc_id long, site string, html string",
    )
    return parse_offers(docs).orderBy("doc_id", "offer_idx")


def test_golden_offers(spark):
    rows = [tuple(r) for r in _parse(spark).collect()]
    assert rows == [
        (0, "jjit", 0, "Junior Python Developer", "Acme Sp. z o.o.", 8000.0, 8000.0, "PLN", "month"),
        # non-ASCII (ñ, en-dash) stripped from position (A13); 2-number branch
        (0, "jjit", 1, "Seor Data Engineer", "", 11000.0, 12000.0, "PLN", "month"),
        (0, "jjit", 2, "No Salary Role", "", None, None, None, None),
        (1, "ppl", 0, "Staff SRE", "Initech", 11000.0, 12000.0, "PLN", "month"),
        (1, "ppl", 1, "Analyst", "Hooli", 31.25, 31.25, "PLN", "h"),
    ]


@pytest.mark.parametrize("big", [2**53 + 1, 2**63 - 1])
def test_extract_offers_keeps_doc_id_exact(spark, big):
    """One input batch holding a NULL doc_id and a large one: a pandas frame
    made the column float64, which rounded 2**53 + 1 to 2**53 and failed the
    job on 2**63 - 1. The Arrow kernel takes doc_id from the batch as is."""
    docs = spark.createDataFrame(
        [(None, "ppl", PPL_HTML), (big, "ppl", PPL_HTML), (7, "ppl", PPL_HTML)],
        "doc_id long, site string, html string",
    ).coalesce(1)
    got = sorted((r["doc_id"] is None, r["doc_id"] or 0) for r in extract_offers(docs).collect())
    assert got == [(False, 7)] * 2 + [(False, big)] * 2 + [(True, 0)] * 2


# Edge inputs for the kernel: NULL html, NULL and unknown site, a document
# with no offers, a truncated one, and multibyte text.
EDGE_DOCS = [
    (10, "jjit", None),
    (11, "ppl", None),
    (12, None, JJIT_HTML),
    (13, "indeed", PPL_HTML),
    (14, "jjit", "<ul></ul>"),
    (15, "ppl", "<html><body><p>nothing here</p></body></html>"),
    (16, "jjit", "<ul><li data-index='3'><h3>Cut Off Dev</h3><h6><span>10"),
    (17, "ppl", "<div data-test='default-offer'><a data-test='link-offer-title'>Half"),
    (
        18,
        "jjit",
        "<ul><li data-index='0'><h3>Programista ★ Łódź 😀</h3>"
        "<p>Zażółć gęślą</p><h6><span>9 000</span><span>zł/mies.</span></h6></li></ul>",
    ),
    (
        19,
        "ppl",
        "<div data-test='default-offer'><a data-test='link-offer-title'>Kierownik ★</a>"
        "<h3 data-test='text-company-name'>Spółka 😀</h3>"
        "<span data-test='offer-salary'>12 000 zł / mies.</span></div>",
    ),
]


def _direct_rows(docs) -> list[tuple]:
    """The offer rows of the parser classes run on each document directly."""
    rows = []
    for doc_id, site, html in docs:
        if site not in _PARSERS:
            continue
        p = _PARSERS[site]()
        p.feed(html or "")
        p.close()
        rows.extend(
            (doc_id, site, o["offer_idx"], o["position_raw"], o["company_raw"], o["salary_raw"])
            for o in p.offers
        )
    return rows


def test_arrow_kernel_matches_the_parsers_on_edge_inputs(spark):
    docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, site string, html string").coalesce(1)
    out = extract_offers(docs)
    assert out.schema == RAW_OFFER_SCHEMA
    want = _direct_rows(EDGE_DOCS)
    assert {r[0] for r in want} == {16, 17, 18, 19}
    assert sorted(tuple(r) for r in out.collect()) == sorted(want)


def test_arrow_kernel_on_an_empty_batch(spark):
    """An empty input batch gives an empty batch of the output schema, and
    an empty frame gives no rows."""
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64()), pa.array([], pa.string()), pa.array([], pa.string())],
        names=["doc_id", "site", "html"],
    )
    (batch,) = _parse_batch(iter([empty]))
    assert batch.num_rows == 0
    assert batch.schema == pa.schema(
        [
            ("doc_id", pa.int64()),
            ("site", pa.string()),
            ("offer_idx", pa.int32()),
            ("position_raw", pa.string()),
            ("company_raw", pa.string()),
            ("salary_raw", pa.string()),
        ]
    )
    docs = spark.createDataFrame([], "doc_id long, site string, html string")
    assert extract_offers(docs).collect() == []


def test_arrow_kernel_casts_narrow_doc_ids(spark):
    """An int doc_id column still comes back as RAW_OFFER_SCHEMA's long:
    mapInArrow does not coerce the batches a kernel yields."""
    docs = spark.createDataFrame([(5, "ppl", PPL_HTML)], "doc_id int, site string, html string")
    out = extract_offers(docs)
    assert out.schema == RAW_OFFER_SCHEMA
    assert sorted(tuple(r)[:3] for r in out.collect()) == [(5, "ppl", 0), (5, "ppl", 1)]


def test_csv_sink_reference_compat(spark):
    """A6: header CSV with "" for missing values (SURVEY.md §1.2)."""
    offers = _parse(spark)
    path = tempfile.mkdtemp(prefix="e2e_offers_csv_")
    try:
        offers_to_staging_csv(offers, path)
        rows = []
        for f in sorted(glob.glob(f"{path}/part-*.csv")):
            with open(f, newline="", encoding="utf-8") as fh:
                rows.extend(csv.DictReader(fh))
        assert len(rows) == 5
        no_salary = next(r for r in rows if r["position"] == "No Salary Role")
        assert no_salary["minimum"] == ""
        assert no_salary["currency"] == ""
        with_salary = next(r for r in rows if r["position"] == "Analyst")
        assert with_salary["minimum"] == "31.25"
        assert with_salary["pay_period"] == "h"
        # Integral amounts render in the reference's minimal form ("8000",
        # not the DECIMAL(12,2) default "8000.00").
        integral = next(r for r in rows if r["position"] == "Junior Python Developer")
        assert integral["minimum"] == "8000"
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_zorder_quadrant_is_prefix_range(spark):
    # A value-space quadrant must map to a contiguous z-prefix: both codes
    # < 128 (top bit 0)  <=>  z < 2^14. That equivalence is what turns a
    # 2-D box predicate into a file-range prune.
    from e2e_etl_pipeline_spark.queries.pipeline_q import _zorder_code
    import pyspark.sql.functions as F

    pts = spark.createDataFrame(
        [(x, y) for x in (0, 5, 127, 128, 200, 255) for y in (0, 63, 127, 128, 255)],
        "cx int, cy int",
    ).withColumn("z", _zorder_code(F.col("cx"), F.col("cy")))
    for r in pts.collect():
        in_quadrant = r.cx < 128 and r.cy < 128
        assert (r.z < 1 << 14) == in_quadrant, (r.cx, r.cy, r.z)
        # Interleave round-trips: de-interleaving z recovers the codes.
        cx = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(8))
        cy = sum(((r.z >> (2 * i)) & 1) << i for i in range(8))
        assert (cx, cy) == (r.cx, r.cy)


def test_zorder_files_have_disjoint_z_ranges(spark, sf_dir, tmp_path):
    # repartitionByRange on z must yield pairwise-disjoint per-file z
    # ranges — the structural guarantee that ANY z-interval predicate
    # (i.e. any quadrant-decomposed box) prunes to a file subset.
    import pyspark.sql.functions as F

    from e2e_etl_pipeline_spark.catalog import load_table
    from e2e_etl_pipeline_spark.queries.pipeline_q import _zorder_code

    o = load_table(spark, sf_dir, "orders")
    cx = (F.col("o_custkey") % 256).cast("int")
    cy = F.least(F.lit(255), (F.col("o_totalprice") / 2000).cast("int"))
    path = str(tmp_path / "z")
    (
        o.withColumn("z", _zorder_code(cx, cy))
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(path)
    )
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .collect()
    )
    assert len(stats) >= 4
    ranges = sorted((r.lo, r.hi) for r in stats)
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert lo1 <= hi1 < lo2


def test_targeted_delete_touches_only_stat_affected_files(spark, sf_dir, tmp_path):
    # The blast radius of a 3-user delete on a user-clustered copy must be
    # a strict subset of files: with 8 contiguous user_id ranges, victims
    # 1..3 sit in the first range (plus at most one boundary neighbor).
    import pyspark.sql.functions as F

    from e2e_etl_pipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "t")
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
        .collect()
    )
    # Derive victims from the data (three smallest distinct user_ids) so the
    # assertion survives per-round testdata regeneration, and bound the blast
    # radius as a fraction of the file count rather than an absolute 2: three
    # adjacent keys can span at most two contiguous ranges plus boundary
    # duplication, but the meaningful property is "most files untouched".
    victims = [
        r.user_id
        for r in ev.select("user_id").distinct().orderBy("user_id").limit(3).collect()
    ]
    affected = [r.f for r in stats if any(r.lo <= v <= r.hi for v in victims)]
    assert 0 < len(affected) <= max(2, len(stats) // 2), (len(affected), len(stats))
    # Soundness: the skipped files really contain no victim rows.
    untouched = [r.f for r in stats if r.f not in set(affected)]
    if untouched:
        leaked = (
            spark.read.parquet(*untouched).where(F.col("user_id").isin(victims))
        ).count()
        assert leaked == 0


def test_xml_roundtrip_escapes_markup(spark, tmp_path):
    """XML-significant characters in string values (&, <, >, quotes) must
    survive the write→read cycle via entity escaping."""
    src = spark.createDataFrame(
        [(1, 'a & b < c > "d"'), (2, "]]> & <tag attr='x'/>"), (3, None)],
        "id long, s string",
    )
    path = str(tmp_path / "xml_escape")
    src.write.format("xml").option("rowTag", "row").save(path)
    back = (
        spark.read.schema("id long, s string")
        .format("xml")
        .option("rowTag", "row")
        .load(path)
    )
    got = {r["id"]: r["s"] for r in back.collect()}
    assert got == {1: 'a & b < c > "d"', 2: "]]> & <tag attr='x'/>", 3: None}


def test_map_in_arrow_null_text(spark):
    """NULL text must propagate to NULL counters (not 0) through the Arrow
    kernels, matching SQL length() semantics."""
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "a b", "en", "s", 3), (2, None, "en", "s", 0)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        rows = {
            r["doc_id"]: (r["n_chars"], r["n_ws"])
            for r in QUERIES["q_map_in_arrow"](spark, d).collect()
        }
    assert rows == {1: (3, 1), 2: (None, None)}


def test_wap_audit_blocks_bad_publish(spark, tmp_path):
    """A staged frame violating the key invariant must raise and leave the
    live path absent (consumers can never see the bad table)."""
    import os

    import pytest

    from e2e_etl_pipeline_spark.queries.pipeline_q import wap_publish

    bad = spark.createDataFrame(
        [(1, "x"), (None, "y")], "o_orderkey long, payload string"
    )
    root = str(tmp_path / "wap")
    os.makedirs(root)
    with pytest.raises(ValueError, match="audit failed"):
        wap_publish(spark, bad, root, key_col="o_orderkey")
    assert not os.path.exists(os.path.join(root, "live"))


def test_dropmalformed_count_pruning_footgun(spark, tmp_path):
    """DROPMALFORMED + count() is a silent lie: count() prunes every
    column, no typed field is ever parsed, so nothing is detected as
    malformed and the RAW line count comes back. Materializing the full
    row (localCheckpoint) yields the true kept count. q_csv_malformed
    routes through a materialized join for exactly this reason."""
    from pyspark.sql import types as T

    from e2e_etl_pipeline_spark.queries.pipeline_q import _MALFORMED_CSV_LINES

    p = tmp_path / "csv"
    p.mkdir()
    (p / "x.csv").write_text("\n".join(_MALFORMED_CSV_LINES) + "\n")
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert df.count() == 7  # the footgun: raw line count, nothing dropped
    assert df.localCheckpoint().count() == 4  # the truth
