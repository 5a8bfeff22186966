"""Cross-engine bit-exactness of stable_round (functions/rounding.py) —
the primitive many oracles lean on for emitted doubles. One Spark job and
one DuckDB query over the same adversarial batch, compared bit-for-bit
(struct.pack), because == would hide the -0.0-vs-+0.0 split the primitive
exists to prevent.

The batch concentrates on where plain round() is known to diverge across
engines: exact decimal midpoints at the rounding digit (dyadic and
decimal-terminating), values one ulp below a midpoint, negative midpoints
(half-even vs half-up vs half-away disagree), negative values that round
to zero (the -0.0 hazard), and a seeded random cloud.
"""

from __future__ import annotations

import math
import struct

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)

N_DIGITS = 4


def _adversarial_values() -> list[float]:
    vals = [
        0.0,
        -0.0,
        0.5e-4,  # exact midpoint at 4dp
        -0.5e-4,  # negative midpoint → -0.0 hazard under C nearbyint
        1.5e-4,
        -1.5e-4,
        0.03125,  # 1/32: dyadic, decimal-terminating at 5dp, 4dp midpoint-ish
        -0.03125,
        0.00005,
        0.00015,
        0.40625,  # documented dyadic-tie mean case
        -0.40625,
        math.nextafter(0.5e-4, 0.0),  # one ulp below the midpoint
        math.nextafter(0.5e-4, 1.0),
        0.49999999999999994,  # x + 0.5 == 1.0 in IEEE double
        -0.49999999999999994,
        123456.00005,
        -123456.00005,
        1e-300,
        -1e-300,
    ]
    rng = np.random.RandomState(11)
    vals += list(rng.randn(200) * 10)
    # grid values that terminate at exactly 4-5 decimals (midpoint-rich)
    vals += [i / 20000.0 for i in range(-50, 50)]
    return [float(v) for v in vals]


def _bits(x: float | None) -> bytes | None:
    return None if x is None else struct.pack("<d", x)


@pytest.mark.parametrize("n", [2, 4, 6])
def test_stable_round_bit_exact_across_engines(spark, n):
    vals = _adversarial_values()
    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got_spark = {
        r.i: r.y
        for r in sdf.select("i", stable_round(F.col("x"), n).alias("y")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals)))
    got_duck = {
        i: y
        for i, y in con.execute(
            f"SELECT i, {stable_round_sql('x', n)} FROM t"
        ).fetchall()
    }
    assert set(got_spark) == set(got_duck)
    for i in got_spark:
        sb, db = _bits(got_spark[i]), _bits(got_duck[i])
        assert sb == db, (
            f"n={n} input={vals[i]!r}: spark={got_spark[i]!r} duckdb={got_duck[i]!r}"
        )


def test_stable_round_never_negative_zero(spark):
    """The floor form must never emit -0.0 (the driver-hash split class)."""
    vals = [-0.5e-4, -1e-9, -0.0, 0.0, -0.00004999]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    for r in sdf.select(stable_round(F.col("x"), N_DIGITS).alias("y")).collect():
        if r.y == 0.0:
            assert _bits(r.y) == _bits(0.0), f"-0.0 leaked for input batch {vals}"


def test_casing_is_locale_pinned(spark, sf_dir):
    """Spark's upper()/lower() case-map through the JVM default locale:
    under Turkish, upper('i') = 'İ' (dotted) and lower('I') = 'ı'
    (dotless) — found live by the round-7 tr_TR sweep via
    q_str_clean.cleaned_upper. Spark 4.1 still does this for any string
    with a non-ASCII character (only all-ASCII strings take its
    locale-free fast path, so upper('istanbul') hides the split). The
    registry wrapper pins Locale.ROOT per query (session.pin_root_locale):
    simulate a Turkish driver JVM, build a registered key, and assert the
    pin restores locale-independent casing."""
    from pyspark.sql import functions as F

    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    locale = spark._jvm.java.util.Locale  # noqa: SLF001
    original = locale.getDefault()
    frame = spark.createDataFrame([("i I ñ",)], "s string")
    casing = frame.select(F.upper("s").alias("u"), F.lower("s").alias("l"))
    try:
        locale.setDefault(locale("tr", "TR"))
        assert tuple(casing.collect()[0]) == ("İ I Ñ", "i ı ñ")
        QUERIES["q_str_clean"](spark, sf_dir)
        assert locale.getDefault().equals(locale.ROOT), locale.getDefault().toString()
        assert tuple(casing.collect()[0]) == ("I I Ñ", "i i ñ")
    finally:
        locale.setDefault(original)
