"""Live-browser fetchers: the reference's two acquisition loop contracts
behind the driver-side ``Fetcher`` protocol (acquire.py).

The reference drives Chrome over two job boards:

* A1 — pagination loop (DataExtract/extract_data.py:108-146): load the
  listing URL, collect every offer fragment on the page, click "next",
  repeat until the control disappears or a round cap is hit.
* A2 — infinite scroll with keyed dedup (DataExtract/extract_data.py:
  199-246): repeatedly harvest the virtualized rows currently in the DOM
  into a first-write-wins map keyed on their monotone ``data-index``,
  scroll, and stop after ``max_stale_rounds`` consecutive rounds in which
  neither the row count nor the max index advanced (progress test
  :234-237), bounded by ``max_rounds`` (:113-114).

Selenium and Chrome are NOT present in this container, so the loops are
written against the minimal :class:`BrowserPort` below — an offline fake
exercises every branch in ``tests/test_acquire_selenium.py``, and
:func:`selenium_port` adapts a real ``selenium.webdriver`` behind an
import-try when the package exists. Acquisition stays driver-side by
design (SURVEY.md §3.2): the WebDriver process boundary must never sit
inside a cluster-side operator.

Each loop emits one row PER offer fragment with running doc_ids, feeding
acquire.fetched_documents row-wise so fragments parallelize downstream
without a re-explode. The reference's merged single-file raw artifact
(A28: one ``<ul>…</ul>`` or ``<div>…</div>`` document per loop) is the
wrapper around the concatenation of the rows' html, in row order.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Protocol

from e2e_etl_pipeline_spark.sources.acquire import Fetcher

# Site-specific listing-URL templates, the engine's version of the
# reference's _build_url (extract_data.py:47-51 and :164-166, URL shapes
# :74-79 and :163-167). Both carry the reference's with-salary filter
# (A3). Options are data, not code: new sites register a template + loop
# style. "ppl" is the reference's site abbreviation (config.py:13
# SITE_ABBREVIATIONS) and the key pipeline/offers.py registers its parser
# under — a divergent key here would make parse_offers silently drop every
# row this fetcher produces.
URL_TEMPLATES = {
    "jjit": "https://justjoin.it/job-offers/{region}?experience-level={experience}&with-salary=yes",
    "ppl": "https://it.pracuj.pl/praca/{region};wp?et={experience}&sal=1",
}
LOOP_STYLE = {"jjit": "scroll", "ppl": "paginate"}


class BrowserPort(Protocol):
    """The five interactions the two loop contracts actually need.

    A deliberate seam: the imperative WebDriver surface (waits, clicks,
    execute_script — extract_data.py:100-106,182-197) collapses to this,
    so the loops are testable without a browser and the Selenium adapter
    stays a thin leaf.
    """

    def open(self, url: str) -> None:
        """Navigate to the listing page."""

    def harvest(self) -> Iterable[tuple[int, str]]:
        """(item_index, outer_html) for every offer currently in the DOM."""

    def next_page(self) -> bool:
        """Click the next-page control; False if absent/disabled."""

    def scroll(self) -> None:
        """Advance the virtualized list by one scroll step."""

    def close(self) -> None:
        """Tear the browser down (context-manager duty in the reference,
        extract_data.py:285-292)."""


def paginated_fetch(
    port: BrowserPort, url: str, max_pages: int = 400
) -> list[tuple[int, str]]:
    """A1 contract: page loop with re-keyed append (extract_data.py:108-146).

    Offers accumulate in arrival order across pages (the reference's
    ``all_offers.extend`` at :128-137); doc ids are the running position.
    Stops when the next control is gone or after ``max_pages`` rounds.
    """
    out: list[tuple[int, str]] = []
    port.open(url)
    for _page in range(max_pages):
        for _idx, html in port.harvest():
            out.append((len(out), html))
        if not port.next_page():
            break
    return out


def scroll_fetch(
    port: BrowserPort,
    url: str,
    max_stale_rounds: int = 5,
    max_rounds: int = 400,
) -> list[tuple[int, str]]:
    """A2 contract: scroll-harvest with first-write-wins keyed dedup and
    stale-progress termination (extract_data.py:199-246).

    The progress watermark is the pair (distinct rows seen, max index seen)
    — a round advances it or counts as stale; ``max_stale_rounds``
    consecutive stale rounds end the loop (:234-237), ``max_rounds`` bounds
    it absolutely (:113-114). Output is ordered by the integer index
    (:245), matching the engine's ``orderBy(idx.cast long)`` semantics.
    """
    seen: dict[int, str] = {}
    port.open(url)
    # Initial harvest, then baseline the watermark AFTER it
    # (extract_data.py:218-223): loop round 1 counts as progress only if
    # its own harvest adds items beyond the initial collect. A (0, -1)
    # baseline would grant one free round whenever the page loads
    # non-empty, changing the harvested artifact under a tight stale budget.
    for idx, html in port.harvest():
        seen.setdefault(idx, html)
    stale = 0
    watermark = (len(seen), max(seen, default=-1))
    for _round in range(max_rounds):
        for idx, html in port.harvest():
            seen.setdefault(idx, html)
        progress = (len(seen), max(seen, default=-1))
        if progress == watermark:
            stale += 1
            if stale >= max_stale_rounds:
                break
        else:
            stale = 0
            watermark = progress
        port.scroll()
    return [(idx, seen[idx]) for idx in sorted(seen)]


def make_browser_fetcher(port_factory) -> Fetcher:
    """Adapt a BrowserPort factory to the acquire.Fetcher signature.

    ``port_factory(site) -> BrowserPort``; the loop style and URL come
    from the per-site registries above. The port is always closed, even
    on a failing fetch (the reference's context-manager teardown,
    extract_data.py:285-292).
    """

    def fetch(site: str, region: str, experience: str) -> list[tuple[int, str]]:
        url = URL_TEMPLATES[site].format(region=region, experience=experience)
        port = port_factory(site)
        try:
            if LOOP_STYLE[site] == "scroll":
                return scroll_fetch(port, url)
            return paginated_fetch(port, url)
        finally:
            port.close()

    return fetch


# The reference's scroll step in the A2 loop (extract_data.py:199-246).
_SCROLL_PX = 1200


def selenium_port(site: str) -> BrowserPort:  # pragma: no cover - optional dep
    """Real-browser adapter, available only where selenium + Chrome exist.

    Kept to the thinnest possible leaf: selector constants mirror the
    reference's DOM contracts (``#up-offers-list ul li[data-index]``
    harvest :181-197; offers under [data-test='section-offers'] :82-85;
    scroll-into-view next-button click :100-106).
    """
    try:
        from selenium import webdriver
        from selenium.webdriver.common.by import By
    except ImportError as exc:
        raise NotImplementedError(
            "selenium_port requires the optional selenium dependency; use "
            "make_browser_fetcher with an offline BrowserPort instead"
        ) from exc

    class _SeleniumPort:
        def __init__(self) -> None:
            options = webdriver.ChromeOptions()
            options.add_argument("--headless=new")
            self._driver = webdriver.Chrome(options=options)
            self._site = site

        def open(self, url: str) -> None:
            self._driver.get(url)

        def harvest(self) -> list[tuple[int, str]]:
            if self._site == "jjit":
                # one JS round-trip for the whole virtualized window
                # (extract_data.py:181-197); rows without a data-index are
                # skipped, as in the reference's harvest
                rows = self._driver.execute_script(
                    "return Array.from(document.querySelectorAll("
                    "'#up-offers-list ul li[data-index]'"
                    ")).map(li => [li.getAttribute('data-index'), li.outerHTML]);"
                )
                return [(int(idx), html) for idx, html in rows if idx is not None]
            rows = self._driver.find_elements(
                By.CSS_SELECTOR,
                "[data-test='section-offers'] div[data-test='default-offer']",
            )
            return [(i, r.get_attribute("outerHTML")) for i, r in enumerate(rows)]

        def next_page(self) -> bool:
            buttons = self._driver.find_elements(
                By.CSS_SELECTOR, "[data-test='bottom-pagination-button-next']"
            )
            # is_displayed, not is_enabled: the reference stops paging when
            # the next control is not VISIBLE (extract_data.py:95) — a
            # disabled-but-visible button would still be clicked there.
            if not buttons or not buttons[0].is_displayed():
                return False
            self._driver.execute_script(
                "arguments[0].scrollIntoView({block: 'center'});", buttons[0]
            )
            buttons[0].click()
            return True

        def scroll(self) -> None:
            self._driver.execute_script(f"window.scrollBy(0, {_SCROLL_PX});")

        def close(self) -> None:
            self._driver.quit()

    return _SeleniumPort()
