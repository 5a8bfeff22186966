"""The reference's signature computation — salary-string parsing — as a
closed-form column expression tree (SURVEY.md §2 A15-A21, §7 Phase 1).

Reference semantics (DataTransform/transform_data.py:144-173):
  * numbers: every match of `\\d[\\d\\s]*(?:,\\d+)?` (after NBSP→space),
    then strip inner spaces and turn comma-decimals into dots (:146-151).
  * currency: first case-insensitive match of zł|PLN|EUR|USD|CHF|GBP in its
    MATCHED case ('gbp' stays 'gbp'); the only normalization is
    zł→PLN, case-insensitively (:154-158).
  * pay period: case-insensitive token after a slash —
    mies.|godz.|rok|dzień|tydzień|h, plus the already-normalized "month"
    that JJIT "cur/period" spans carry verbatim (:62-64) — mapped
    {mies.→month, godz.→h} by exact (case-sensitive) lookup, identity
    fallback (:161-165).
  * min/max: ≥2 numbers → (first, second); 1 → (n, n); 0 → missing
    (:167-173).

The engine returns typed NULL for missing (not the reference's "" — see
SURVEY.md §1.2); the CSV sink re-materializes "" at the edge.

Everything is built-in expressions (regexp_extract_all / transform /
element_at / CASE), so Catalyst fuses the whole parse into one codegen
stage.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The parse as Spark SQL text. Spark SQL string literals eat one backslash
# level, so every regex backslash is doubled here. NBSP appears as the
# literal character. {c} is a backtick-quoted column reference.
_NORM_SQL = "regexp_replace({c}, ' ', ' ')"
_NUMS_SQL = (
    "transform(regexp_extract_all(" + _NORM_SQL + ", "
    "'\\\\d[\\\\d\\\\s]*(?:,\\\\d+)?', 0), "
    "m -> cast(regexp_replace(regexp_replace(m, '\\\\s+', ''), ',', '.') "
    "as double))"
)
_CURRENCY_SQL = (
    "CASE WHEN _cur = '' THEN cast(null as string) "
    "ELSE CASE WHEN lower(_cur) = 'zł' THEN 'PLN' ELSE _cur END END".replace(
        "_cur",
        "regexp_extract(" + _NORM_SQL + ", '(?i)(zł|PLN|EUR|USD|CHF|GBP)', 1)",
    )
)
_PERIOD_SQL = (
    "CASE WHEN _per = '' THEN cast(null as string) "
    "ELSE CASE WHEN _per = 'godz.' THEN 'h' "
    "ELSE CASE WHEN _per = 'mies.' THEN 'month' ELSE _per END END END".replace(
        "_per",
        "regexp_extract(" + _NORM_SQL + ", "
        "'(?i)/\\\\s*(mies\\\\.|godz\\\\.|rok|dzień|tydzień|month|h)', 1)",
    )
)
_PARSE_SQL = (
    "named_struct("
    "'minimum', CASE WHEN size(_nums) >= 1 THEN try_element_at(_nums, 1) "
    "ELSE cast(null as double) END, "
    "'maximum', CASE WHEN size(_nums) >= 2 THEN try_element_at(_nums, 2) "
    "WHEN size(_nums) = 1 THEN try_element_at(_nums, 1) "
    "ELSE cast(null as double) END, "
    f"'currency', {_CURRENCY_SQL}, "
    f"'pay_period', {_PERIOD_SQL})"
).replace("_nums", _NUMS_SQL)


def parse_salary(col: str) -> Column:
    """Full A15-A21 composite over the column named ``col`` →
    struct(minimum, maximum, currency, pay_period).

    Count-dependent min/max (A21, transform_data.py:167-173):
      >=2 numbers → (nums[0], nums[1]); 1 → (n, n); 0 → (NULL, NULL).

    The tree ships as ONE F.expr SQL string: a Column-API build spends
    ~0.5 s of py4j round-trips PER QUERY CONSTRUCTION (round-11
    measurement — the bench times construction), while a single expr is
    one call and the JVM parses it. tests/test_salary.py checks it
    against handcrafted cases and, on hypothesis-generated strings,
    against the row-at-a-time Python twin
    (queries/udf_surface._parse_salary_py)."""
    safe = col.replace("`", "``")
    return F.expr(_PARSE_SQL.format(c=f"`{safe}`"))
