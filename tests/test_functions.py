"""Property tests for the text-stats / shingling expression builders: the
column expressions must agree with straightforward Python reimplementations
on arbitrary generated text (SURVEY.md §5.2 item 4 pattern, beyond salary).
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.functions import textstats as ts
from e2e_etl_pipeline_spark.operators.dedup import word_shingles

_word = st.text(
    alphabet=st.sampled_from("abcdefgzą .,!?0123456789"), min_size=1, max_size=8
).filter(lambda w: w.strip())
# Runs of every character of the whitespace class, so texts also lead and
# trail with whitespace and mix \x0B, \f and \r between words.
_space = st.text(alphabet=st.sampled_from(" \t\n\x0b\f\r"), min_size=1, max_size=3)
_text = st.lists(st.one_of(_word, _space), min_size=0, max_size=40).map("".join)


def _py_words(s: str) -> list[str]:
    return [w for w in s.split() if w]


def _py_fingerprint(s: str) -> int:
    fp = 0
    for w in _py_words(s):
        fp = (fp * ts.FINGERPRINT_BASE + len(w) + ord(w[0])) % ts.FINGERPRINT_MOD
    return fp


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,  # deterministic examples: the driver's test run must not flake
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_text, min_size=1, max_size=25))
@example(["\x0b\tlead", "trail \r\f", "\f", "in\x0bner\r\nwords", ""])
def test_textstats_match_python(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    rows = df.select(
        ts.words("s").alias("w"),
        ts.whitespace_tokens("s").alias("n"),
        ts.word_fingerprint("s").alias("fp"),
        ts.quality_score("s").alias("q"),
        F.size(word_shingles("s", 3)).alias("n_shingles"),
    ).collect()
    for t, r in zip(texts, rows):
        words = _py_words(t)
        assert r.w == words, (t, r.w)
        assert r.n == len(words), (t, r.n)
        assert r.fp == _py_fingerprint(t), t
        assert r.q is None or 0.0 <= r.q <= 1.0, (t, r.q)
        expected_shingles = (
            len({" ".join(words[i : i + 3]) for i in range(len(words) - 2)})
            if len(words) >= 3
            else 0
        )
        assert r.n_shingles == expected_shingles, (t, r.n_shingles, expected_shingles)


def test_quality_components_bounded(spark):
    cases = ["", "a", "!!!!!!", "the " * 200, "x" * 1000, "the of and to in is it"]
    df = spark.createDataFrame([(t,) for t in cases], "s string")
    for r in df.select(ts.quality_score("s").alias("q")).collect():
        assert r.q is None or 0.0 <= r.q <= 1.0


def test_md5_u60_cross_engine_parity(spark):
    """The shipped F.expr(md5_u60_spark_sql(...)) must equal its DuckDB
    twin md5_u60_sql bit-for-bit — the contract that lets MinHash/SimHash
    oracles recompute the engine's hashes (round 10). Covers ASCII,
    separators, quotes, backslashes, unicode (NFC/NFD, CJK, emoji) and the
    '\\n'-escaped seeded shingle shape, where the SQL parser's newline
    escape must produce the byte DuckDB's chr(10) does."""
    import duckdb

    from e2e_etl_pipeline_spark.functions.digests import (
        md5_u60_spark_sql,
        md5_u60_sql,
    )

    samples = [
        "a", "hello world", "foo:3", "tok1 tok2 tok3\n31",
        "café", "café", "中文分词", "\U0001f600",
        " leading", "trailing ", "tab\tsep", "", " ",
        "back\\slash", "quote'quote",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    rows = df.select(
        "s",
        F.expr(md5_u60_spark_sql("s")).alias("h"),
        F.expr(md5_u60_spark_sql("concat(s, '\\n', '7')")).alias("seeded"),
    ).collect()
    twin = f"SELECT {md5_u60_sql('$1')}, {md5_u60_sql('$1 || chr(10) || 7')}"
    con = duckdb.connect()
    for r in rows:
        want = con.execute(twin, [r.s]).fetchone()
        assert (r.h, r.seeded) == want, r.s


def test_md5_u60_spark_sql_matches_column_form(spark):
    """md5_u60_spark_sql (the F.expr text form used for wide-tree
    construction, round 12) must equal the Column-form 60-bit carving —
    the first half of md5_u120 — exactly, including the '\\n'-escaped
    seeded shingle shape, where the SQL parser's newline escape must
    produce the same byte F.lit ships."""
    from e2e_etl_pipeline_spark.functions.digests import (
        md5_u120,
        md5_u60_spark_sql,
    )

    samples = [
        "a", "hello world", "tok1 tok2 tok3", "café", "中文分词",
        "\U0001f600", "", " ", "back\\slash", "quote'quote",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    col_form, _ = md5_u120(F.concat(F.col("s"), F.lit("\n"), F.lit("7")))
    rows = df.select(
        "s",
        col_form.alias("col_form"),
        F.expr(md5_u60_spark_sql("concat(s, '\\n', '7')")).alias("sql_form"),
    ).collect()
    for r in rows:
        assert r.col_form == r.sql_form, r.s


def test_md5_u120_cross_engine_parity(spark):
    """functions/digests.md5_u120 (the 100 TB-scale two-column widening of
    md5_u60) must equal its DuckDB twin bit-for-bit on BOTH halves, and the
    second half must be a genuinely different carving (nibbles 16-30)."""
    import duckdb

    from e2e_etl_pipeline_spark.functions.digests import md5_u120, md5_u120_sql

    samples = [
        "a", "hello world", "foo:3", "tok1 tok2 tok3\n31",
        "café", "café", "中文分词", "\U0001f600",
        " leading", "trailing ", "tab\tsep", "",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    h1, h2 = md5_u120(F.col("s"))
    got = {
        r.s: (r.h1, r.h2)
        for r in df.select("s", h1.alias("h1"), h2.alias("h2")).collect()
    }
    s1, s2 = md5_u120_sql("?")
    con = duckdb.connect()
    for s in samples:
        want = con.execute(f"SELECT {s1}, {s2}", [s, s]).fetchone()
        assert got[s] == want, (s, got[s], want)
        # both halves are 60-bit non-negative and not trivially equal
        assert 0 <= want[0] < 2**60 and 0 <= want[1] < 2**60
        assert want[0] != want[1]
