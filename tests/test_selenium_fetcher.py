"""Offline contract tests for the reference's merged single-document
artifact (A28), derived from the per-fragment browser loops
(sources/selenium_fetch.py): the merged document is the wrapper around
the concatenation of the rows' html. Fake pages stand in for the
browser — no selenium, no network.

Contracts under test mirror DataExtract/extract_data.py:108-146 (page loop)
and :199-246 (scroll harvest with keyed dedup + stale-round stop).
"""

from __future__ import annotations

import pytest

from e2e_etl_pipeline_spark.sources.selenium_fetch import (
    make_browser_fetcher,
    paginated_fetch,
    scroll_fetch,
    selenium_port,
)


def merged(tag: str, rows: list[tuple[int, str]]) -> str:
    return f"<{tag}>" + "".join(html for _, html in rows) + f"</{tag}>"


class FakePagedListing:
    """N pages of offers; next button visible until the last page."""

    def __init__(self, pages: list[list[str]]) -> None:
        self._pages = pages
        self._i = 0
        self.clicks = 0

    def open(self, url: str) -> None:
        pass

    def harvest(self) -> list[tuple[int, str]]:
        return list(enumerate(self._pages[self._i]))

    def next_page(self) -> bool:
        if self._i >= len(self._pages) - 1:
            return False
        self.clicks += 1
        self._i += 1
        return True


class FakeScrollingListing:
    """A virtualized list: each scroll reveals the next window of items;
    re-renders repeat earlier items (the dedup case); after the feed is
    exhausted further scrolls reveal nothing (the stale case)."""

    def __init__(self, windows: list[list[tuple[int, str]]]) -> None:
        self._windows = windows
        self._pos = 0
        self.scrolls = 0

    def open(self, url: str) -> None:
        pass

    def harvest(self) -> list[tuple[int, str]]:
        return self._windows[min(self._pos, len(self._windows) - 1)]

    def scroll(self) -> None:
        self.scrolls += 1
        self._pos += 1


def test_paginate_collects_every_page_and_stops_at_last():
    page = FakePagedListing([["<a>1</a>", "<a>2</a>"], ["<a>3</a>"], ["<a>4</a>"]])
    html = merged("div", paginated_fetch(page, "http://x"))
    assert html == "<div><a>1</a><a>2</a><a>3</a><a>4</a></div>"
    assert page.clicks == 2  # never clicks past the last page


def test_paginate_respects_max_rounds():
    class Endless(FakePagedListing):
        def next_page(self):
            return True

    html = merged("div", paginated_fetch(Endless([["<a>x</a>"]]), "http://x", max_pages=7))
    assert html.count("<a>x</a>") == 7


def test_scroll_harvest_dedups_by_index_and_orders_numerically():
    # windows overlap (items 1-2 re-rendered) and arrive out of order;
    # index 10 must sort after 2 numerically, not lexicographically
    windows = [
        [(0, "<li>a</li>"), (1, "<li>b</li>")],
        [(1, "<li>b-re</li>"), (2, "<li>c</li>"), (10, "<li>k</li>")],
    ]
    rows = scroll_fetch(FakeScrollingListing(windows), "http://x", max_stale_rounds=2)
    # first occurrence wins for data-index 1
    assert merged("ul", rows) == "<ul><li>a</li><li>b</li><li>c</li><li>k</li></ul>"


def test_scroll_harvest_stops_after_stale_rounds():
    windows = [[(0, "<li>only</li>")]]  # nothing new ever appears
    page = FakeScrollingListing(windows)
    rows = scroll_fetch(page, "http://x", max_stale_rounds=3, max_rounds=100)
    assert merged("ul", rows) == "<ul><li>only</li></ul>"
    # initial harvest + 3 stale verification rounds => exactly 2 scrolls
    # before the counter trips (progress check happens before scrolling)
    assert page.scrolls == 2


def test_scroll_harvest_survives_one_stale_render_between_reveals():
    # the loop re-harvests the current window before each scroll, so a
    # lagging virtualized list (one empty round between reveals) must not
    # trip a 2-round stale budget while content is still arriving
    windows = [
        [(0, "<li>a</li>")],
        [(1, "<li>b</li>")],
        [(2, "<li>c</li>")],
        [(2, "<li>c</li>")],  # feed exhausted from here on
    ]
    rows = scroll_fetch(FakeScrollingListing(windows), "http://x", max_stale_rounds=2)
    assert merged("ul", rows) == "<ul><li>a</li><li>b</li><li>c</li></ul>"


def test_selenium_fetcher_raises_cleanly_without_selenium():
    try:
        import selenium  # noqa: F401
    except ImportError:
        pass
    else:
        pytest.skip("selenium installed here; the import gate isn't exercisable")

    with pytest.raises(RuntimeError, match="optional selenium"):
        make_browser_fetcher(selenium_port)("jjit", "all-locations", "junior")


def test_scroll_harvest_baselines_after_initial_harvest():
    """Reference stale accounting (extract_data.py:218-223): the baseline
    is taken AFTER the initial collect, so a page whose content never
    changes trips a 1-round stale budget without a single scroll — the
    initial harvest itself is not loop progress."""
    page = FakeScrollingListing([[(0, "<li>a</li>")]])
    rows = scroll_fetch(page, "http://x", max_stale_rounds=1)
    assert merged("ul", rows) == "<ul><li>a</li></ul>"
    assert page.scrolls == 0
