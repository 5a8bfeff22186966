"""HTML → offers: the reference's transform stage, Spark-first.

Reference behavior (SURVEY.md §2 A9-A12, §3.1): BeautifulSoup parses a whole
HTML document, each offer node becomes one row of six string fields, with ""
for anything missing. Engine design:

  * Parse runs inside mapInArrow over (doc rows) — one Python parse per
    document, Arrow record batches in and out, parallel across partitions
    (the reference is single-threaded row-at-a-time Python).
  * The DOM walk uses stdlib html.parser (bs4/lxml aren't in this
    container); selectors are data (per-site config), not code — SURVEY.md
    §4.3's brittle-selector note.
  * Each document explodes into N offer rows (the UDTF shape): the kernel
    returns one record batch of offer rows per input batch.
  * The kernel builds its output from Arrow buffers and never imports
    pandas. ``doc_id`` and ``site`` are ``take``n from the input batch, so
    their types and NULLs pass through exactly (a pandas frame turned a
    NULL-bearing int64 column into float64, rounding ids past 2**53 and
    failing the job on 2**63 - 1). The other columns come from
    ``pa.Array.from_buffers``, never ``pa.array``/``from_pydict``/
    ``from_pylist`` on Python lists: in pyarrow 16 those import pandas
    lazily (``_is_array_like`` → ``_pandas_api``), ~33 MB more in every
    worker.
  * Salary strings are NOT parsed in Python: the raw salary text column
    feeds the codegen'd column-expression parser
    (functions/salary.parse_salary), keeping the hot arithmetic JVM-side.
  * The staging sink types numerics properly and materializes the
    reference's ""-for-missing convention only at the CSV edge
    (SURVEY.md §1.2).
"""

from __future__ import annotations

import array
from collections.abc import Iterator
from html.parser import HTMLParser
from itertools import accumulate

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from e2e_etl_pipeline_spark.functions.salary import parse_salary
from e2e_etl_pipeline_spark.functions.text import clean_position, clean_text

# Raw per-offer fields as extracted from the DOM (strings; salary unparsed).
RAW_OFFER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("site", T.StringType()),
        T.StructField("offer_idx", T.IntegerType()),
        T.StructField("position_raw", T.StringType()),
        T.StructField("company_raw", T.StringType()),
        T.StructField("salary_raw", T.StringType()),
    ]
)

# Final staging schema (FIXTURES.md §1.1).
OFFER_SCHEMA = T.StructType(
    [
        T.StructField("position", T.StringType()),
        T.StructField("company_name", T.StringType()),
        T.StructField("minimum", T.DecimalType(12, 2)),
        T.StructField("maximum", T.DecimalType(12, 2)),
        T.StructField("currency", T.StringType()),
        T.StructField("pay_period", T.StringType()),
    ]
)


class _JJITParser(HTMLParser):
    """<ul><li data-index=N><h3>position</h3><h6><span>…salary spans…</span></h6></li>…
    (DOM contract from DataTransform/transform_data.py:91-107). The 2-vs-3
    span salary branch (transform_data.py:58-71) is reproduced by joining the
    spans into one salary string the column parser handles uniformly."""

    def __init__(self) -> None:
        super().__init__()
        self.offers: list[dict] = []
        self._in_li = False
        self._tag_stack: list[str] = []
        self._cur: dict | None = None
        self._spans: list[str] = []
        self._capture: str | None = None

    def handle_starttag(self, tag, attrs):
        attrs = dict(attrs)
        if tag == "li" and "data-index" in attrs:
            if self._in_li and self._cur is not None:
                # Implied </li>: lxml's error recovery auto-closes an open
                # <li> when a sibling <li> starts; without this an unclosed
                # item would silently swallow its predecessor (leniency
                # parity — tests/test_html_leniency.py).
                self._finalize()
            self._in_li = True
            self._cur = {"offer_idx": int(attrs["data-index"]), "position_raw": "", "company_raw": ""}
            self._spans = []
        elif self._in_li and tag == "h3":
            self._capture = "position_raw"
        elif self._in_li and tag == "span":
            self._capture = "span"
            self._spans.append("")
        elif self._in_li and tag == "p":
            self._capture = "company_raw"

    def handle_data(self, data):
        if self._cur is None or self._capture is None:
            return
        if self._capture == "span":
            self._spans[-1] += data
        else:
            self._cur[self._capture] += data

    def handle_endtag(self, tag):
        if tag in ("h3", "span", "p"):
            self._capture = None
        elif tag == "li" and self._in_li:
            self._finalize()

    def _finalize(self) -> None:
        # 2 spans → "min–cur/period"; ≥3 → "min–max–cur/period".
        # The en-dash joiner keeps adjacent numeric spans separate for the
        # number regex (space-joined "11 000 12 000" would greedily match
        # as ONE number because \d[\d\s]* eats interior spaces).
        self._cur["salary_raw"] = "–".join(self._spans)
        self.offers.append(self._cur)
        self._in_li = False
        self._cur = None
        self._capture = None
        self._spans = []

    def close(self):
        # Flush a truncated document's trailing unclosed <li> (lxml emits
        # it too; HTMLParser just stops feeding events).
        super().close()
        if self._in_li and self._cur is not None:
            self._finalize()


class _PracujParser(HTMLParser):
    """div[data-test=default-offer] > a[link-offer-title] / h3[text-company-name]
    / span[offer-salary] (DataTransform/transform_data.py:188-201)."""

    _FIELDS = {
        "link-offer-title": "position_raw",
        "text-company-name": "company_raw",
        "offer-salary": "salary_raw",
    }

    def __init__(self) -> None:
        super().__init__()
        self.offers: list[dict] = []
        self._cur: dict | None = None
        self._capture: str | None = None
        self._capture_tag: str | None = None
        self._capture_depth = 0

    def handle_starttag(self, tag, attrs):
        attrs = dict(attrs)
        dt = attrs.get("data-test", "")
        if tag == "div" and dt == "default-offer":
            if self._cur is not None:
                self.offers.append(self._cur)
            # An unclosed field in the previous offer must not keep
            # capturing into this one (lxml implies a close at the offer
            # boundary — tests/test_html_leniency.py).
            self._capture = None
            self._cur = {
                "offer_idx": len(self.offers),
                "position_raw": "",
                "company_raw": "",
                "salary_raw": "",
            }
        elif self._cur is not None and dt in self._FIELDS:
            self._capture = self._FIELDS[dt]
            self._capture_tag = tag
            self._capture_depth = 0
        elif self._capture is not None and tag == self._capture_tag:
            # Same-name element nested INSIDE the capturing one (Pracuj
            # salary nodes nest <span> in <span>): count depth so the
            # nested close doesn't truncate the field.
            self._capture_depth += 1

    def handle_data(self, data):
        if self._cur is not None and self._capture is not None:
            self._cur[self._capture] += data

    def handle_endtag(self, tag):
        # Only the CAPTURING element's own close ends capture: nested
        # inline markup (<b>, nested <span>…) inside a field keeps
        # contributing text, matching BeautifulSoup's get_text() over the
        # selected node (previously any end tag truncated the field at the
        # first nested close — tests/test_html_leniency.py).
        if self._capture is not None and tag == self._capture_tag:
            if self._capture_depth > 0:
                self._capture_depth -= 1
            else:
                self._capture = None
        if tag == "html" and self._cur is not None:
            self.offers.append(self._cur)
            self._cur = None

    def close(self):
        super().close()
        if self._cur is not None:
            self.offers.append(self._cur)
            self._cur = None


_PARSERS = {"jjit": _JJITParser, "ppl": _PracujParser}


# RAW_OFFER_SCHEMA in Arrow types: mapInArrow does not coerce a yielded batch.
_ARROW_SCHEMA = to_arrow_schema(RAW_OFFER_SCHEMA)
_TEXT = ("position_raw", "company_raw", "salary_raw")


def _int32(values: list[int]) -> pa.Array:
    data = pa.py_buffer(array.array("i", values))
    return pa.Array.from_buffers(pa.int32(), len(values), [None, data])


def _strings(values: list[str]) -> pa.Array:
    encoded = [v.encode() for v in values]
    offsets = array.array("i", accumulate(map(len, encoded), initial=0))
    return pa.Array.from_buffers(
        pa.string(), len(values), [None, pa.py_buffer(offsets), pa.py_buffer(b"".join(encoded))]
    )


def _parse_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        rows: list[int] = []
        offers: list[dict] = []
        sites = batch.column("site").to_pylist()
        for row, (site, html) in enumerate(zip(sites, batch.column("html").to_pylist())):
            parser_cls = _PARSERS.get(site)
            if parser_cls is None:
                continue
            p = parser_cls()
            p.feed(html or "")
            p.close()
            rows.extend([row] * len(p.offers))
            offers.extend(p.offers)
        take = _int32(rows)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id").take(take),
                batch.column("site").take(take),
                _int32([o["offer_idx"] for o in offers]),
                *(_strings([o[name] for o in offers]) for name in _TEXT),
            ],
            schema=_ARROW_SCHEMA,
        )


def extract_offers(raw_docs: DataFrame) -> DataFrame:
    """(doc_id, site, html) → RAW string offer rows (RAW_OFFER_SCHEMA): the
    DOM-walk stage alone, before any cleaning or salary parsing. parse_offers
    builds on it, and the benchmark's DOM-walk layer (pipeline.extract_s)
    times it on its own."""
    # The kernel hands doc_id and site back as they arrive: cast them to the
    # output's types here (a no-op on the usual long and string columns).
    return raw_docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("site").cast("string").alias("site"),
        "html",
    ).mapInArrow(_parse_batch, schema=RAW_OFFER_SCHEMA)


def parse_offers(raw_docs: DataFrame) -> DataFrame:
    """(doc_id, site, html) → typed offer rows (OFFER_SCHEMA + provenance).

    DOM walk in mapInArrow; everything downstream (cleaning + salary parse)
    is codegen'd column expressions.
    """
    extracted = extract_offers(raw_docs)
    parsed = parse_salary("salary_raw")
    return extracted.select(
        "doc_id",
        "site",
        "offer_idx",
        clean_position("position_raw").alias("position"),
        clean_text("company_raw").alias("company_name"),
        # SURVEY.md §1.2: staging types money as decimal(12,2) (the parser's
        # general-purpose number extraction stays double; the cast is the
        # staging-schema contract). try_cast, not cast: under Spark 4's
        # ANSI default a parsed digit-run >= 1e10 (e.g. a phone number
        # matched by the salary number pattern) would otherwise throw
        # NUMERIC_VALUE_OUT_OF_RANGE and kill the whole job; an
        # out-of-range "salary" degrades to NULL instead.
        parsed["minimum"].try_cast(T.DecimalType(12, 2)).alias("minimum"),
        parsed["maximum"].try_cast(T.DecimalType(12, 2)).alias("maximum"),
        parsed["currency"].alias("currency"),
        parsed["pay_period"].alias("pay_period"),
    )


def _minimal_decimal_str(c) -> "F.Column":
    # DECIMAL(12,2) renders "8000.00"; the reference writes the regex-parsed
    # minimal form "8000" / "31.25" (transform_data.py:148-151 emits strings
    # with no added decimals). Strip a trailing zero-run and any then-bare
    # point: "8000.00"→"8000", "31.25"→"31.25", "8000.10"→"8000.1".
    return F.regexp_replace(
        F.regexp_replace(c.cast("string"), r"(\.\d*?)0+$", "$1"), r"\.$", ""
    )


def offers_to_staging_csv(offers: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header (A6), reference-compatible: NULLs materialize as
    empty strings, numerics as minimal dot-decimal strings (SURVEY.md §1.2)."""
    out = offers.select(
        "position",
        "company_name",
        F.coalesce(_minimal_decimal_str(F.col("minimum")), F.lit("")).alias("minimum"),
        F.coalesce(_minimal_decimal_str(F.col("maximum")), F.lit("")).alias("maximum"),
        F.coalesce("currency", F.lit("")).alias("currency"),
        F.coalesce("pay_period", F.lit("")).alias("pay_period"),
    )
    # emptyValue="": Spark's CSV writer otherwise quotes empty strings as
    # "" while the reference's pandas to_csv writes truly empty fields —
    # a byte-level artifact diff for the missing-salary rows.
    out.write.mode(mode).option("header", True).option("emptyValue", "").csv(
        path
    )
