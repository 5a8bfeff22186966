"""Query registry: the engine's public operator surface.

Every operator from SURVEY.md §2 registers here under its planned query key.
``QUERIES[key]`` is a callable ``(spark, sf_dir) -> DataFrame``;
``ORACLES[key]`` (when present) is the ANSI-SQL equivalent DuckDB runs on the
same parquet tables for the driver's hash compare. Keys without an oracle get
the weaker rows-only check (SURVEY.md §2, driver contract).

Hash-stability rules enforced across the codebase (SURVEY.md §7 watch list):
  * Alias every computed column identically in Spark and SQL.
  * Round float aggregates (sums→2dp, avgs/ratios→4dp) in BOTH dialects.
  * Any LIMIT/top-k carries a unique total ordering (explicit tiebreaker).
  * No wall-clock, no Date.now-style calls inside queries.
  * No array/map/struct OUTPUT columns in oracle-checked queries: the external
    canonicalizer sorts/hashes raw cells and dies on unhashable lists.
    Serialize sets/arrays to strings (array_join / array_to_string) instead.
  * NULLABLE temporal outputs ship as TIMESTAMP, never DATE, on BOTH
    dialects: a DATE column containing a NULL transports as datetime64/NaT
    from DuckDB but object/None from Spark — the local comparator
    normalizes that split, the driver's exact hash may not (round 4,
    q_date_funcs / q_percentile_bands). Non-nullable DATE outputs are fine.
  * DuckDB array_to_string([]) returns NULL while Spark array_join([])
    returns '' — wrap every oracle array_to_string whose list can be empty
    (empty/NULL document, zero matches) in coalesce(..., '') (round 5,
    q_span_corruption via the nulls/edge variants).
  * Grouped money/value DOUBLE sums accumulate in DECIMAL(18,6) before the
    2dp round on both dialects — double accumulation is partition-order
    dependent at rounding boundaries. Integer-valued doubles (quantities)
    and running sums over a pinned frame order are exempt (exact,
    respectively order-identical).
  * No DECIMAL OUTPUT columns at the driver edge — decimal is for internal
    math only; CAST to DOUBLE in BOTH dialects before the final SELECT.
    DuckDB's pandas bridge ships DECIMAL as float64 ("950.0") while Spark's
    toPandas ships decimal.Decimal ("950.00"): rows+schema match, exact
    value-hash mismatch (round 9 — this alone was the r6-r8
    q_offers_pipeline red; the only two decimal-shipping keys were the only
    two reds). No key ships DECIMAL at the driver edge
    (tests/test_construction_lazy.py gates it registry-wide).
  * Tokenize on whitespace only through functions/textstats: words() on
    the engine side, words_sql() in oracles. It is the one place the
    whitespace class is spelled (Java's and RE2's \\s differ on a vertical tab),
    and words() carries no lambda, so it stays in generated code
    (tests/test_textstats_properties.py gates the rule).
  * Vector math goes only through functions/vectors: dot, l2_norm,
    cosine_similarity / cosine_from_norms and sq_dist on the engine side,
    their *_sql twins in oracles, so both engines fold the same terms in
    the same order. Round through rounding.stable_round_sql, never a
    hand-written floor(x * 10^n + 0.5) / 10^n
    (tests/test_vectors_properties.py gates both).

Registration order matters: the external driver verifies keys in registration
order under a budget. Since round 3 the order is pinned at KEY granularity by
queries/_order_r{N}.py (queries/__init__.py rebuilds the dicts after import —
module import order no longer affects it); regenerate with tools/gen_order.py
at each round start per CLAUDE.md.
"""

from __future__ import annotations

import textwrap
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query callable and (optionally) its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")

        def shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Externally-built sessions (the driver's) carry neither our
            # package on worker PYTHONPATH nor our UTC timezone pin; both are
            # engine-semantics requirements, so enforce them at the query
            # boundary (see shipping.py and session.pin_utc).
            from e2e_etl_pipeline_spark.session import pin_root_locale, pin_utc
            from e2e_etl_pipeline_spark.shipping import ensure_package_shipped

            ensure_package_shipped(spark)
            pin_utc(spark)
            pin_root_locale(spark)
            return fn(spark, sf_dir)

        shipped.__name__ = fn.__name__
        shipped.__doc__ = fn.__doc__
        shipped.__query_key__ = key  # type: ignore[attr-defined]
        QUERIES[key] = shipped
        if oracle is not None:
            ORACLES[key] = textwrap.dedent(oracle).strip()
        fn.__query_key__ = key  # type: ignore[attr-defined]
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    # Imported lazily to avoid import cycles (query modules import `register`).
    from e2e_etl_pipeline_spark import queries  # noqa: F401
