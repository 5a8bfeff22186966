"""Mathematical invariants of the vector expression builders
(functions/vectors.py), checked against numpy on one seeded random batch —
a single Spark job covers every property (per-example jobs would make a
hypothesis-style loop pay 100× the scheduler cost for the same coverage).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_etl_pipeline_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
)

N, DIM = 64, 16


@pytest.fixture(scope="module")
def batch(spark):
    rng = np.random.RandomState(7)
    a = rng.randn(N, DIM).astype(np.float32)
    b = rng.randn(N, DIM).astype(np.float32)
    a[0] = 0.0  # zero vector: cosine must be NULL, norm must be 0
    b[1] = a[1]  # identical vectors: cosine must be 1
    b[2] = -a[2]  # opposite vectors: cosine must be -1
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("a", T.ArrayType(T.FloatType())),
            T.StructField("b", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(N)], schema
    )
    rows = (
        df.select(
            "i",
            dot("a", "b").alias("dot"),
            l2_norm("a").alias("na"),
            l2_norm("b").alias("nb"),
            cosine_similarity("a", "b").alias("cos"),
        )
        .collect()
    )
    return a, b, {r["i"]: r for r in rows}


def test_dot_and_norm_match_numpy(batch):
    a, b, rows = batch
    for i in range(N):
        assert rows[i]["dot"] == pytest.approx(float(np.dot(a[i].astype(np.float64), b[i].astype(np.float64))), rel=1e-9, abs=1e-9)
        assert rows[i]["na"] == pytest.approx(float(np.linalg.norm(a[i].astype(np.float64))), rel=1e-9, abs=1e-12)


def test_cosine_bounds_and_special_cases(batch):
    _, _, rows = batch
    assert rows[0]["cos"] is None  # zero vector → NULL, not NaN/crash
    assert rows[1]["cos"] == pytest.approx(1.0, abs=1e-9)
    assert rows[2]["cos"] == pytest.approx(-1.0, abs=1e-9)
    for i in range(3, N):
        assert -1.0 - 1e-9 <= rows[i]["cos"] <= 1.0 + 1e-9


def test_cauchy_schwarz(batch):
    a, b, rows = batch
    for i in range(1, N):
        assert abs(rows[i]["dot"]) <= rows[i]["na"] * rows[i]["nb"] + 1e-6


def test_filter_modal_dim_contract(spark, tmp_path):
    """filter_modal_dim must agree with MODAL_DIM_SQL on every clause of
    the contract: modal length wins, ties break to the SMALLER length,
    NULL vectors and off-modal vectors drop, and empty input yields empty
    output (not an error)."""
    import duckdb

    from e2e_etl_pipeline_spark.operators.similarity import (
        MODAL_DIM_SQL,
        filter_modal_dim,
    )

    rows = [
        # 3 × len-4 and 3 × len-2: a TIE — modal must break to 2
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [1.0, 2.0, 3.0, 4.0]),
        (3, [1.0, 2.0, 3.0, 4.0]),
        (4, [1.0, 2.0]),
        (5, [1.0, 2.0]),
        (6, [5.0, 6.0]),
        (7, [9.0]),  # minority length
        (8, None),  # NULL vector: not counted, not kept
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    kept = sorted(
        r.vec_id for r in filter_modal_dim(df).select("vec_id").collect()
    )
    assert kept == [4, 5, 6]

    # SQL twin on the same rows, via a parquet round-trip
    path = str(tmp_path / "embeddings.parquet")
    df.write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    sql_kept = sorted(
        r[0]
        for r in con.execute(
            f"WITH __dim AS ({MODAL_DIM_SQL}) "
            "SELECT vec_id FROM embeddings "
            "WHERE len(embedding) = (SELECT d FROM __dim)"
        ).fetchall()
    )
    assert sql_kept == kept

    empty = df.where(F.lit(False))
    assert filter_modal_dim(empty).count() == 0


def test_filter_modal_dim_is_path_aware(spark, tmp_path):
    """Two same-schema corpora at DIFFERENT paths in one session must each
    get their OWN modal dimension. Regression for the round-9 memoization
    bug: the canonicalized-plan toString is PATH-BLIND for file relations
    ("Relation [...] parquet" prints no location), so a string-keyed
    frame cache served the first corpus's modal-dim frame to every
    same-schema corpus that followed (caught live: the 8-dim semdedup
    fixture got the sf0.01 corpus's 64-dim gate and filtered itself to
    empty)."""
    from e2e_etl_pipeline_spark.operators.similarity import filter_modal_dim

    wide = str(tmp_path / "wide")
    narrow = str(tmp_path / "narrow")
    spark.createDataFrame(
        [(1, [1.0] * 8), (2, [2.0] * 8)], "vec_id long, embedding array<float>"
    ).write.parquet(wide)
    spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "vec_id long, embedding array<float>"
    ).write.parquet(narrow)

    gated_wide = filter_modal_dim(spark.read.parquet(wide))
    # Materialize the wide gate FIRST so a path-blind cache would already
    # hold its 8-dim frame when the narrow corpus asks.
    assert gated_wide.count() == 2
    gated_narrow = filter_modal_dim(spark.read.parquet(narrow))
    assert gated_narrow.count() == 2, (
        "narrow corpus was gated by another corpus's modal dimension"
    )


def test_filter_modal_dim_sees_regenerated_corpus(spark, tmp_path):
    """A corpus regenerated IN PLACE (same path, new content) must be
    re-gated on the new data, never served a modal dimension computed
    from the old files."""
    from e2e_etl_pipeline_spark.operators import similarity as sim

    path = str(tmp_path / "regen_corpus")
    spark.createDataFrame(
        [(1, [1.0] * 4), (2, [2.0] * 4)], "vec_id long, embedding array<float>"
    ).write.parquet(path)

    def gated():
        return sim.filter_modal_dim(spark.read.parquet(path))

    assert gated().count() == 2
    assert gated().count() == 2

    import shutil

    shutil.rmtree(path)
    spark.createDataFrame(
        [(1, [1.0] * 7), (2, [2.0] * 7), (3, [3.0] * 7)],
        "vec_id long, embedding array<float>",
    ).write.parquet(path)
    assert gated().count() == 3, (
        "regenerated corpus was served a stale modal dim"
    )


# Every registered key whose plan reaches similarity.filter_modal_dim.
MODAL_DIM_KEYS = [
    "q_similarity_topk",
    "q_similarity_filtered",
    "q_similarity_ivf",
    "q_similarity_recall_bound",
    "q_dedup_embedding_bound",
    "q_kmeans_step",
    "q_semdedup_prune",
    "q_curation_pipeline",
]


def test_modal_dim_keys_leave_no_persisted_state(spark, sf_dir, tmp_path, monkeypatch):
    """Collecting every key that reaches the modal-dim gate must leave the
    session's CacheManager empty: the gate is an in-plan broadcast join,
    not a frame cached across queries. The SemDeDup keys persist their own
    per-query cluster frame ``v`` (queries/curation.py); the test captures
    and releases it by handle, so only state persisted elsewhere remains.
    The corpus is a fresh copy, so no frame cached under the shared test
    data earlier in the session can satisfy the gate."""
    import shutil

    from e2e_etl_pipeline_spark.queries import curation
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    corpus = str(tmp_path / "sf")
    shutil.copytree(sf_dir, corpus)
    held = []
    real = curation._semdedup_v_and_victims

    def capture(spark_, sf_dir_):
        out = real(spark_, sf_dir_)
        held.append(out[0])
        return out

    monkeypatch.setattr(curation, "_semdedup_v_and_victims", capture)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for key in MODAL_DIM_KEYS:
        QUERIES[key](spark, corpus).collect()
    assert held, "the SemDeDup keys no longer build their cluster frame"
    for v in held:
        v.unpersist()
    assert cache.isEmpty(), "a modal-dim key left a persisted frame behind"


def test_vectors_py_is_the_only_vector_fold():
    """Drift lock: functions/vectors.py is the only package module that
    spells the dot, norm, cosine or squared-distance fold, in the engine
    dialect (zip_with, a double-cast product) or the oracle one (a
    sqrt(list_sum(...)) norm, an element-wise cast product or difference).
    And no module hand-writes the stable-round form floor(x * 10^n + 0.5)
    / 10^n, which rounding.stable_round_sql renders, except
    similarity._round4, the NumPy kernel's twin of stable_round. (The
    BM25 idf's ``(N - df + 0.5) / (df + 0.5)`` is no rounding; the
    pattern takes a literal scale before ``+ 0.5) /``.)"""
    import inspect
    import pathlib
    import re

    import e2e_etl_pipeline_spark as pkg
    from e2e_etl_pipeline_spark.operators import similarity as sim

    fold = re.compile(
        r"sqrt\(list_sum\(|\[i\] AS DOUBLE\) [*-] CAST\(|F\.zip_with\("
        r'|[a-z]\.cast\("double"\) [*-] [a-z]\.cast\("double"\)'
    )
    hand_round = re.compile(r"\* \d+(?:\.\d+)? \+ 0\.5\) /")
    round4 = " ".join(inspect.getsource(sim._round4).split())
    root = pathlib.Path(pkg.__file__).parent
    folders, rounders = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        text = " ".join(path.read_text().split())
        if fold.search(text):
            folders.append(rel)
        if hand_round.search(text.replace(round4, "")):
            rounders.append(rel)
    assert folders == ["functions/vectors.py"], folders
    assert rounders == [], rounders


def test_sql_twins_are_bit_identical_to_the_engine(spark, tmp_path):
    """dot_sql, l2_norm_sql, cosine_sql and sq_dist_sql in DuckDB give the
    same doubles, bit for bit, as dot, l2_norm, cosine_similarity /
    cosine_from_norms and sq_dist in Spark, on FLOAT and DOUBLE vectors of
    one length with no NULL element (the contract the modal gate
    enforces), zero vectors included."""
    import struct

    import duckdb

    from e2e_etl_pipeline_spark.functions import vectors as vx

    rng = np.random.RandomState(11)
    n, dim = 48, 24
    vecs = {name: rng.randn(n, dim) * rng.choice([1e-3, 1.0, 1e3], (n, 1)) for name in "abcd"}
    for name in "ac":
        vecs[name][0] = 0.0
    for name in "bd":
        vecs[name][1] = 0.0
    vecs["b"][2] = vecs["a"][2]
    vecs["d"][3] = -vecs["c"][3]
    schema = T.StructType(
        [T.StructField("i", T.IntegerType())]
        + [T.StructField(name, T.ArrayType(T.FloatType())) for name in "ab"]
        + [T.StructField(name, T.ArrayType(T.DoubleType())) for name in "cd"]
    )
    rows = [
        (i, *(vecs[name][i].astype(np.float32 if name in "ab" else np.float64).tolist() for name in "abcd"))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "vectors")
    df.write.parquet(path)

    def engine(x, y):
        return [
            vx.dot(x, y),
            vx.l2_norm(x),
            vx.cosine_similarity(x, y),
            vx.cosine_from_norms(x, y, vx.l2_norm(x), vx.l2_norm(y)),
            vx.sq_dist(x, y),
        ]

    def twin(x, y):
        return [
            vx.dot_sql(x, y),
            vx.l2_norm_sql(x),
            vx.cosine_sql(x, y),
            vx.cosine_sql(x, y, vx.l2_norm_sql(x), vx.l2_norm_sql(y)),
            vx.sq_dist_sql(x, y),
        ]

    pairs = [("a", "b"), ("c", "d"), ("a", "d"), ("b", "b")]
    cols = [c for x, y in pairs for c in engine(x, y)]
    spark_rows = sorted(
        tuple(r) for r in spark.read.parquet(path).select("i", *cols).collect()
    )
    con = duckdb.connect()
    sql = ", ".join(e for x, y in pairs for e in twin(x, y))
    duck_rows = sorted(
        con.execute(f"SELECT i, {sql} FROM read_parquet('{path}/*.parquet')").fetchall()
    )

    def bits(row):
        return [None if v is None else struct.pack("<d", v) for v in row]

    assert len(spark_rows) == len(duck_rows) == n
    assert [bits(r) for r in spark_rows] == [bits(r) for r in duck_rows]
    by_i = {r[0]: r for r in spark_rows}
    # the zero vectors gave NULL cosines on both sides: (a, b) is pair 0
    assert by_i[0][3] is None and by_i[1][3] is None
