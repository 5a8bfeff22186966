"""Offline tests for the live-browser loop contracts (selenium_fetch.py):
A1 pagination and A2 scroll-harvest semantics against a fake BrowserPort —
no Selenium, no network, every termination branch exercised."""

from __future__ import annotations

import pytest

from e2e_etl_pipeline_spark.sources.selenium_fetch import (
    LOOP_STYLE,
    URL_TEMPLATES,
    make_browser_fetcher,
    paginated_fetch,
    scroll_fetch,
)


class FakePagedPort:
    """Serves a fixed sequence of pages, then reports no next control."""

    def __init__(self, pages):
        self._pages = pages
        self._at = 0
        self.opened = None
        self.closed = False

    def open(self, url):
        self.opened = url

    def harvest(self):
        return list(enumerate(self._pages[self._at]))

    def next_page(self):
        if self._at + 1 >= len(self._pages):
            return False
        self._at += 1
        return True

    def scroll(self):  # pragma: no cover - not used by pagination
        raise AssertionError("pagination loop must not scroll")

    def close(self):
        self.closed = True


class FakeScrollPort:
    """Reveals batches of (index, html) rows per scroll round; once the
    batches run out, every further harvest repeats the final view (the
    stale-progress condition)."""

    def __init__(self, batches):
        self._batches = batches
        self._round = 0
        self.scrolls = 0
        self.closed = False

    def open(self, url):
        pass

    def harvest(self):
        visible = []
        for b in self._batches[: self._round + 1]:
            visible.extend(b)
        return visible

    def next_page(self):  # pragma: no cover - not used by scroll
        raise AssertionError("scroll loop must not paginate")

    def scroll(self):
        self.scrolls += 1
        if self._round + 1 < len(self._batches):
            self._round += 1

    def close(self):
        self.closed = True


def test_paginated_fetch_concatenates_pages_in_order():
    port = FakePagedPort([["a0", "a1"], ["b0"], ["c0", "c1"]])
    out = paginated_fetch(port, "http://x")
    assert out == [(0, "a0"), (1, "a1"), (2, "b0"), (3, "c0"), (4, "c1")]


def test_paginated_fetch_respects_page_cap():
    port = FakePagedPort([["p"]] * 10)
    out = paginated_fetch(port, "http://x", max_pages=3)
    assert len(out) == 3


def test_scroll_fetch_dedups_first_write_wins_and_sorts_by_index():
    # round 2 re-serves index 1 with different html: the first write wins
    # (extract_data.py:194-197); output is int-sorted (:245).
    port = FakeScrollPort(
        [[(1, "one"), (0, "zero")], [(2, "two"), (1, "ONE-CHANGED")], [(10, "ten")]]
    )
    out = scroll_fetch(port, "http://x", max_stale_rounds=2, max_rounds=50)
    assert out == [(0, "zero"), (1, "one"), (2, "two"), (10, "ten")]


def test_scroll_fetch_stops_after_stale_rounds():
    port = FakeScrollPort([[(0, "only")]])
    scroll_fetch(port, "http://x", max_stale_rounds=3, max_rounds=100)
    # The watermark baselines AFTER the initial harvest (reference
    # extract_data.py:218-223), so a page that never grows burns its
    # stale budget from loop round 1: stale rounds 1 and 2 each scroll,
    # round 3 breaks before scrolling — exactly 2 scrolls, no free
    # first-sight round.
    assert port.scrolls == 2


def test_scroll_fetch_bounded_by_max_rounds():
    class EndlessPort(FakeScrollPort):
        def harvest(self):
            # a new row every round: progress never goes stale
            return [(self.scrolls, f"row{self.scrolls}")]

    port = EndlessPort([])
    out = scroll_fetch(port, "http://x", max_stale_rounds=5, max_rounds=7)
    assert len(out) == 7


def test_make_browser_fetcher_dispatch_and_teardown():
    made = {}

    def factory(site):
        port = (
            FakeScrollPort([[(0, "s0")]])
            if LOOP_STYLE[site] == "scroll"
            else FakePagedPort([["p0"]])
        )
        made[site] = port
        return port

    fetch = make_browser_fetcher(factory)
    assert fetch("jjit", "warszawa", "junior") == [(0, "s0")]
    assert fetch("ppl", "warszawa", "junior") == [(0, "p0")]
    assert all(p.closed for p in made.values())
    assert "warszawa" in URL_TEMPLATES["jjit"].format(
        region="warszawa", experience="junior"
    )


def test_browser_fetcher_feeds_acquire_dataframe(spark):
    """End-to-end: the browser fetcher plugs into fetched_documents and
    yields the standard raw-document frame."""
    import datetime as dt

    from e2e_etl_pipeline_spark.sources.acquire import fetched_documents

    fetch = make_browser_fetcher(lambda site: FakeScrollPort([[(0, "<ul/>")]]))
    df = fetched_documents(
        spark,
        [("jjit", "wro", "mid")],
        ingest_date=dt.date(2026, 1, 15),
        fetcher=fetch,
    )
    row = df.first()
    assert (row.site, row.region, row.doc_id, row.html) == ("jjit", "wro", 0, "<ul/>")


def test_selenium_port_raises_cleanly_without_selenium():
    from e2e_etl_pipeline_spark.sources.selenium_fetch import selenium_port

    try:
        import selenium  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            selenium_port("jjit")


def test_scroll_loops_agree_on_stale_accounting():
    """Reference stale accounting (extract_data.py:199-246) on a reveal
    schedule with one empty round between reveals: the harvested
    concatenation and the number of scroll rounds per stale budget. The
    values are the ones the retired merged-document loop produced on the
    same schedule, so the accounting both loops agreed on cannot drift."""
    batches = [[(0, "a"), (1, "b")], [(2, "c")], [], [(3, "d")]]
    for stale_budget, html, scrolls in ((1, "ab", 0), (2, "abcd", 5), (5, "abcd", 8)):
        port = FakeScrollPort(batches)
        rows = scroll_fetch(
            port, "http://x", max_stale_rounds=stale_budget, max_rounds=50
        )
        assert "".join(h for _, h in rows) == html, stale_budget
        assert port.scrolls == scrolls, stale_budget


def _fragments(site):
    """One offer fragment per offer, in the shapes synthetic_fetcher
    merges: ``<li data-index>`` for jjit, ``div[data-test=default-offer]``
    for ppl. Returns (wrapper tag, [(index, html)], the merged document)."""
    import re

    from e2e_etl_pipeline_spark.sources.acquire import synthetic_fetcher

    [(_, merged)] = synthetic_fetcher(site, "waw", "mid")
    if site == "jjit":
        items = [
            (int(m.group(1)), m.group(0))
            for m in re.finditer(r'<li data-index="(\d+)">.*?</li>', merged)
        ]
        return "ul", items, merged
    divs = re.findall(r'<div data-test="default-offer">.*?</div>', merged)
    return "div", list(enumerate(divs)), merged


def test_fragment_rows_parse_like_merged_document(spark):
    """The merged A28 document is not package code: it is the wrapper
    around the concatenation of the per-fragment rows. Parsing the rows
    must yield the same offers as parsing the merged document."""
    import datetime as dt
    from collections import Counter

    from e2e_etl_pipeline_spark.pipeline.offers import parse_offers
    from e2e_etl_pipeline_spark.sources.acquire import fetched_documents

    targets = [("jjit", "waw", "mid"), ("ppl", "waw", "mid")]
    shapes = {site: _fragments(site) for site, _, _ in targets}
    for tag, items, merged in shapes.values():
        assert len(items) == 3
        assert f"<{tag}>" + "".join(h for _, h in items) + f"</{tag}>" == merged

    def factory(site):
        _, items, _ = shapes[site]
        if LOOP_STYLE[site] == "scroll":
            # the second reveal re-renders the first offer (dedup case)
            return FakeScrollPort([items[:2], items[:1] + items[2:]])
        return FakePagedPort([[h for _, h in items[:2]], [h for _, h in items[2:]]])

    day = dt.date(2026, 1, 15)
    cols = ["site", "position", "company_name", "minimum", "maximum", "currency", "pay_period"]

    def offers(docs):
        parsed = parse_offers(docs.select("doc_id", "site", "html"))
        return Counter(tuple(r) for r in parsed.select(*cols).collect())

    rows = fetched_documents(spark, targets, day, fetcher=make_browser_fetcher(factory))
    assert rows.count() == 6  # one row per fragment
    # the default fetcher is synthetic_fetcher: one merged document per site
    want = offers(fetched_documents(spark, targets, day))
    assert sum(want.values()) == 6
    assert offers(rows) == want
    assert sum(want.values()) == 6
