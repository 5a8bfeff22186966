"""Hypothesis property tests for functions/textstats.py: the text
expression family must be total (no exceptions, no NaN/inf, bounded
outputs) on adversarial input — empty strings, pure whitespace, unicode,
punctuation runs — because at 100 TB every pathological document shape
WILL occur and a single throwing expression kills the stage."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.functions import textstats as ts

_text = st.one_of(
    st.text(max_size=80),
    st.text(alphabet=" \t\n", max_size=10),
    st.text(alphabet="!?.,;:-—…", max_size=20),
    st.sampled_from(["", " ", "\t\t", "a", "the the the", "München straße 日本語 текст"]),
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_text, min_size=1, max_size=40))
def test_text_expressions_are_total_and_bounded(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"]).coalesce(1)
    out = df.select(
        "text",
        ts.quality_score("text").alias("q"),
        ts.stopword_ratio("text").alias("sw"),
        ts.punct_ratio("text").alias("pr"),
        ts.mean_word_length("text").alias("mwl"),
        F.size(ts.words("text")).alias("n_words"),
        ts.word_fingerprint("text").alias("fp"),
    ).collect()
    assert len(out) == len(texts)
    for r in out:
        assert 0.0 <= r.q <= 1.0, (r.text, r.q)
        if r.sw is not None:
            assert 0.0 <= r.sw <= 1.0
        if r.pr is not None:
            assert 0.0 <= r.pr <= 1.0
        if r.mwl is not None:
            assert r.mwl >= 0.0
        assert r.n_words >= 0
        # fingerprint is total: defined (possibly of an empty token set)
        # for every input, and stable per text value.
    by_text = {}
    for r in out:
        by_text.setdefault(r.text, set()).add(r.fp)
    for text, fps in by_text.items():
        assert len(fps) == 1, f"fingerprint not deterministic for {text!r}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_text, min_size=1, max_size=25))
def test_dedup_primitives_are_total_on_short_text(spark, texts):
    """Shingling / n-gram / SimHash primitives must be defined for texts
    SHORTER than the shingle/gram width (the round-1 descending-sequence
    bug class): empty arrays, never exceptions or phantom grams."""
    from e2e_etl_pipeline_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).coalesce(1)
    sh = df.select(
        "doc_id", dd.word_shingles("text", 3).alias("sh")
    ).collect()
    for r in sh:
        assert isinstance(r.sh, list)
        # every shingle has exactly 3 words
        for s in r.sh:
            assert len(s.split(" ")) == 3
    sigs = dd.minhash_signature_vector(
        df, "doc_id", "text", num_hashes=8, shingle_size=3
    ).collect()
    # docs with ≥1 shingle get one row with all num_hashes minhashes set;
    # shorter docs get none
    n_shingled = sum(1 for r in sh if r.sh)
    assert len(sigs) == n_shingled
    assert all(r[f"_m{i}"] is not None for r in sigs for i in range(8))
    fps = dd.simhash_fingerprints(df, "doc_id", "text").collect()
    assert len(fps) <= len(texts)


def test_every_oracle_tokenizer_matches_the_canonical_class():
    """Drift lock (round-7 review): ~30 oracles still carry the
    whitespace-split fragment verbatim rather than interpolating
    textstats.words_sql. Any copy whose character class or empty-token
    filter drifts from the canonical rendering would silently split
    Spark/DuckDB parity — so every regexp_split_to_array occurrence in a
    registered oracle must use exactly the canonical class, and the
    engine-side words() regex must equal it too."""
    import re

    from e2e_etl_pipeline_spark.functions import textstats as ts
    from e2e_etl_pipeline_spark.registry import ORACLES, load_all

    load_all()
    canonical_class = r"[ \t\n\x0B\f\r]+"
    # words_sql renders the canonical class (single point of truth)
    assert canonical_class in ts.words_sql("text")
    hits = 0
    for key, sql in ORACLES.items():
        for m in re.finditer(r"regexp_split_to_array", sql):
            hits += 1
            # the split's pattern argument (a quoted literal) must be the
            # canonical class within this call's argument window
            window = sql[m.start() : m.start() + 160]
            assert "'[ \\t\\n\\x0B\\f\\r]+'" in window, (
                f"{key}: split without the canonical whitespace class "
                f"nearby — use textstats.words_sql ({window[:80]!r})"
            )
        # every split must also drop empty tokens — either inline
        # (list_filter(... , w -> w <> '')) or via a downstream
        # WHERE token <> '' (the shared Jaccard CTE's spelling)
        if "regexp_split_to_array" in sql:
            assert re.search(
                r"list_filter\(\s*regexp_split_to_array", sql
            ) or "<> ''" in sql, (
                f"{key}: split without any empty-token filter — a doubled "
                "space would mint empty tokens"
            )
    assert hits >= 25, f"expected the fragment across the registry, saw {hits}"
