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

Why the SQL is shaped as it is:
  * One regexp_extract_all, and only the elements used (the first two) are
    cleaned, by plain scalar functions. A `transform(..., m -> ...)` lambda
    is CodegenFallback in Spark 4.1, so it would put the whole numbers
    subtree back on the interpreted path.
  * No case mapping. The currency test is an anchored regex, not
    `lower(cur) = 'zł'`. Spark 4.1 case-maps through ICU by
    default (spark.sql.icu.caseMappings.enabled), and the first lower() or
    upper() in a JVM builds CollationAwareUTF8String's title-case table by
    ICU-titlecasing code points: measured 1.9 s for one `lower('ZL')`
    against ~0.08 s for other tiny queries, and an allocation burst that G1
    keeps as committed heap. After three passes of the daily offers job
    the driver held 834-1,266 MB of committed heap with the lower() parse
    and 348-436 MB without it (4 cores), for the same 130-610 MB in use.
  * No case-insensitive regex flag: every letter is an explicit two-case
    class (`[zZ][łŁ]`), shared with the DuckDB oracle and the Python twin.
    Each engine folds case its own way: Java's ASCII-only flag leaves `ZŁ`
    unmatched, its Unicode flag (like Python's `re`) folds `ı`/`İ` to `i`
    where RE2 does not, so `'… / mıes.'` gave pay_period `mıes.` in Spark
    and NULL in DuckDB. A class matches the same strings in all three.
  * No `\\s` or `\\d` shorthand either: each engine means another class by
    it. Java's `\\s` is textstats' whitespace class, RE2's leaves out `\\v`
    and Python's adds the Unicode spaces, so `'5\\x0b000 zł'` and
    `'5\\u2009000 zł'` (a thin space) each split one engine from the other
    two; Python's `\\d` also matches non-ASCII digits. Every site uses
    NUMBER_PATTERN, PERIOD_PATTERN and textstats.WS_RUN, which interpolate
    textstats.WS_CHARS and spell `[0-9]`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.functions.textstats import WS_CHARS, WS_RUN

# One number: a digit, then digits and whitespace, then an optional decimal
# comma part. Read by Java, RE2 and Python's re alike (module docstring).
NUMBER_PATTERN = rf"[0-9][0-9{WS_CHARS}]*(?:,[0-9]+)?"
# Group 1 is the currency / pay-period token in its matched case, each
# letter an explicit two-case class. The same regex text is read by Java
# (here), RE2 (the oracle) and Python's re (the twin,
# queries/udf_surface._parse_salary_py).
CURRENCY_PATTERN = (
    "([zZ][łŁ]|[pP][lL][nN]|[eE][uU][rR]|[uU][sS][dD]|[cC][hH][fF]|[gG][bB][pP])"
)
PERIOD_PATTERN = (
    rf"/[{WS_CHARS}]*([mM][iI][eE][sS]\.|[gG][oO][dD][zZ]\.|[rR][oO][kK]"
    r"|[dD][zZ][iI][eE][ńŃ]|[tT][yY][dD][zZ][iI][eE][ńŃ]|[mM][oO][nN][tT][hH]|[hH])"
)

# The parse as Spark SQL text. The shared patterns go in raw (r'...')
# literals, which keep their backslashes. NBSP appears as the literal
# character. {c} is a backtick-quoted column reference.
_NORM_SQL = "regexp_replace({c}, ' ', ' ')"
_NUMS_SQL = "regexp_extract_all(" + _NORM_SQL + f", r'{NUMBER_PATTERN}', 0)"
_CLEAN_SQL = f"cast(regexp_replace(regexp_replace(_m, r'{WS_RUN}', ''), ',', '.') as double)"
_CURRENCY_SQL = (
    "CASE WHEN _cur = '' THEN cast(null as string) "
    "WHEN _cur rlike '^[zZ][łŁ]$' THEN 'PLN' ELSE _cur END".replace(
        "_cur", "regexp_extract(" + _NORM_SQL + f", r'{CURRENCY_PATTERN}', 1)"
    )
)
_PERIOD_SQL = (
    "CASE WHEN _per = '' THEN cast(null as string) "
    "WHEN _per = 'godz.' THEN 'h' "
    "WHEN _per = 'mies.' THEN 'month' ELSE _per END".replace(
        "_per", "regexp_extract(" + _NORM_SQL + f", r'{PERIOD_PATTERN}', 1)"
    )
)
_PARSE_SQL = (
    "named_struct("
    "'minimum', " + _CLEAN_SQL.replace("_m", "try_element_at(_nums, 1)") + ", "
    "'maximum', "
    + _CLEAN_SQL.replace(
        "_m", "coalesce(try_element_at(_nums, 2), try_element_at(_nums, 1))"
    )
    + ", "
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
