"""Cross-engine-identical integer digests carved from md5.

xxhash64 is the engine's production hasher (JVM-side, ~GB/s, 8-byte
shuffle keys) but NO SQL dialect reproduces it, so any operator keyed on
it can only ever be rows-only-checked against an oracle. For operators
that need an EXACT cross-engine twin (round-9 verdict item 3: the
MinHash/SimHash near-dup keys were the registry's last rows-only pair),
this module derives a 60-bit unsigned integer from md5 — which Spark and
DuckDB both compute, over UTF-8 bytes, rendering identical lowercase hex:

    Spark:  conv(substring(md5(x), 1, 15), 16, 10) :: long
    DuckDB: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)

15 hex nibbles = 60 bits < 2^63, so the signed BIGINT cast is exact on
both sides (16 nibbles could overflow the signed range, and Spark's conv
returns an unsigned decimal STRING whose long cast would diverge from
DuckDB's checked cast exactly at the sign boundary). Verified
bit-identical cross-engine in tests/test_functions.py.

Collision math: 60 bits keeps the birthday bound comfortable for any
bench corpus and most production ones (~2^30 keys for 50% of ONE
collision); for 100 TB-scale corpora ``md5_u120`` widens the same carving
to a two-column pair (nibbles 1-15 + nibbles 16-30 → 120 bits, birthday
bound ~2^60 keys) exactly like operators/dedup.content_digest's 128-bit
upgrade path — same cross-engine bit-identity, two BIGINTs through the
shuffle instead of one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_u60_sql(expr: str) -> str:
    """The DuckDB-side twin of ``md5_u60_spark_sql``."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def md5_u60_spark_sql(expr: str) -> str:
    """60-bit unsigned integer (as long) from the md5 of a string, as
    Spark-SQL TEXT (for F.expr composition) — shipping a wide tree of
    these as one parsed string instead of per-column py4j Column chains is
    the q_salary_parse construction-cost lesson (round 11).
    tests/test_functions.py pins it bit-identical to ``md5_u60_sql``."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def md5_u120(col: Column) -> tuple[Column, Column]:
    """120-bit digest as TWO 60-bit longs (nibbles 1-15, 16-30) from one
    md5 pass — the documented wide-corpus upgrade of the 60-bit carving (birthday
    bound ~2^60 keys). Returned as a column pair, not a struct: struct
    cells are unhashable at the driver edge, and two longs group/join with
    the same plan shape. Identical to ``md5_u120_sql`` in DuckDB."""
    h = F.md5(col)
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"),
        F.conv(F.substring(h, 16, 15), 16, 10).cast("long"),
    )


def md5_u120_sql(expr: str) -> tuple[str, str]:
    """The DuckDB-side twin of ``md5_u120`` — a pair of SQL expressions."""
    return (
        f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)",
        f"CAST('0x' || substr(md5({expr}), 16, 15) AS BIGINT)",
    )
