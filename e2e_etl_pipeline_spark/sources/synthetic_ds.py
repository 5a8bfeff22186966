"""Custom batch source via Spark 4's Python Data Source API.

Re-expresses the reference's paginated acquisition loop
(DataExtract/extract_data.py:108-146: open listing page → harvest →
click next) as a first-class Spark SOURCE: one input partition per page,
so pages are fetched executor-parallel instead of in a driver-side
browser loop, and the result is a DataFrame from the first operator on.
The page content here is deterministic synthetic data (hash-derived, so
a SQL oracle can reproduce it exactly); a real connector would put the
HTTP/browser fetch inside ``read`` with the same partition-per-page
shape (the sources/acquire.py Fetcher contracts).

Scale: npages input partitions read independently — throughput scales
with executors; no driver bottleneck and no shuffle until the first wide
transformation. Schema/options are declared to Spark, so column pruning
and downstream planning work as for any source.
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Iterator

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


class PagePartition(InputPartition):
    def __init__(self, page: int) -> None:
        self.page = page


class SyntheticOffersReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.npages = int(options.get("npages", 10))
        self.per_page = int(options.get("per_page", 100))

    def partitions(self) -> list[PagePartition]:
        return [PagePartition(p) for p in range(self.npages)]

    def read(self, partition: PagePartition) -> Iterator[tuple]:
        p = partition.page
        for i in range(self.per_page):
            offer_id = p * self.per_page + i
            title = "offer-" + hashlib.md5(str(offer_id).encode()).hexdigest()[:8]
            salary_raw = f"{offer_id % 20000 + 3000} PLN"
            yield (p, offer_id, title, salary_raw)


class SyntheticOffersStreamReader(DataSourceStreamReader):
    """The same paginated acquisition as an UNBOUNDED source: each
    micro-batch advances the page offset, which is exactly the
    reference's incremental re-scrape loop (new pages appear between
    polls; extract_data.py:108-146) under Structured Streaming's
    offset/commit contract — restart-safe because offsets are
    checkpoint-persisted JSON, and replayable because page content is a
    pure function of the offset range."""

    def __init__(self, options: dict) -> None:
        self.npages = int(options.get("npages", 10))
        self.per_page = int(options.get("per_page", 100))

    def initialOffset(self) -> dict:
        return {"page": 0}

    def latestOffset(self) -> dict:
        return {"page": self.npages}

    def partitions(self, start: dict, end: dict) -> list[PagePartition]:
        return [PagePartition(p) for p in range(start["page"], end["page"])]

    def read(self, partition: PagePartition) -> Iterator[tuple]:
        yield from SyntheticOffersReader(
            {"npages": self.npages, "per_page": self.per_page}
        ).read(partition)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: pages are synthesized, not consumed


class SyntheticOffersDataSource(DataSource):
    """``spark.read.format("synthetic_offers").option("npages", N)`` —
    also usable with ``spark.readStream`` (streamReader below)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_offers"

    def schema(self) -> str:
        return "page int, offer_id bigint, title string, salary_raw string"

    def reader(self, schema) -> SyntheticOffersReader:  # noqa: ANN001
        return SyntheticOffersReader(self.options)

    def streamReader(self, schema) -> SyntheticOffersStreamReader:  # noqa: ANN001
        return SyntheticOffersStreamReader(self.options)


def register_source(spark) -> None:  # noqa: ANN001
    """Idempotently register the source on this session.

    spark.dataSource.register silently overwrites on re-register, so no
    guard is needed for the repeat case; a genuine failure (pickling, an
    older pyspark without the Python Data Source API) must propagate —
    swallowing it would resurface later as an unrelated-looking
    DATA_SOURCE_NOT_FOUND at load() time.

    The classes pickle BY VALUE: Spark's Python streaming-source runner does
    not see the package zip that shipping.ensure_package_shipped adds with
    addPyFile, so a by-reference class failed to import there whenever the
    driver's cwd was not the repo root and PYTHONPATH was unset."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(SyntheticOffersDataSource)
