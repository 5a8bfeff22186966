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
    """Drift lock: functions/textstats.py is the only package module that
    spells the whitespace class or splits on a regex shorthand, and every
    whitespace split in a registered oracle is textstats.words_sql's exact
    rendering, so no copy of the tokenizer can drift from the engine's."""
    import pathlib
    import re

    import e2e_etl_pipeline_spark as pkg
    from e2e_etl_pipeline_spark.functions import textstats as ts
    from e2e_etl_pipeline_spark.registry import ORACLES, load_all

    root = pathlib.Path(pkg.__file__).parent
    spellers = sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if "x0B" in p.read_text() or re.search(r"\bsplit\([^)]*\\s", p.read_text())
    )
    assert spellers == ["functions/textstats.py"], spellers

    load_all()
    head, tail = ts.words_sql("\0").split("\0")
    rendering = re.compile(
        re.escape(head) + r"(?:(?!regexp_split_to_array).)*?" + re.escape(tail), re.S
    )
    tokenizing = 0
    for key, sql in ORACLES.items():
        n_split = sql.count("regexp_split_to_array")
        tokenizing += n_split > 0
        assert len(rendering.findall(sql)) == n_split, (
            f"{key}: a whitespace split that is not textstats.words_sql"
        )
    assert tokenizing >= 40, tokenizing
