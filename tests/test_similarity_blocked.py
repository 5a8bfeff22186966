"""Bit-identity gates for the vectorized similarity kernels.

The blocked cosine kernel (its top-k and threshold-pair modes) and the
Arrow LSH bucketizer replace interpreted higher-order-function folds with
NumPy loops that accumulate dimension by dimension in the same
left-to-right IEEE-754 order — these tests pin that each replacement is
BIT-identical to the expression form it replaced. Those expression
forms live here as the executable specs (brute_force_topk_expr,
_planes_frame_lazy, _tables_expr, _hof_pairs, and the three grouped
scorers the kernel absorbed: lsh_cosine_pairs_expr,
semdedup_victims_expr, ivf_topk_expr); the shipped package keeps only
the kernels.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions.rounding import stable_round
from e2e_etl_pipeline_spark.functions.vectors import cosine_from_norms, dot, l2_norm
from e2e_etl_pipeline_spark.operators import similarity as sim


def _bits(x: float | None) -> bytes | None:
    return None if x is None else struct.pack("<d", x)


# ---------------------------------------------------------------------------
# Expression-form specs the kernels are gated against
# ---------------------------------------------------------------------------


def brute_force_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    match_on: str | None = None,
) -> DataFrame:
    """Expression-form exact cosine top-k — the spec for
    sim.brute_force_topk, as the operator shipped through round 11.

    The query side is broadcast; ranking uses row_number with a
    neighbor-id tiebreaker; self-matches are excluded. ``match_on`` names
    a metadata column that must be EQUAL between query and candidate
    (pre-filtering on the join predicate); NULL metadata matches nothing
    (SQL equality). The matched value is emitted under the same name."""
    extra_q = [F.col(match_on).alias("_q_meta")] if match_on else []
    extra_c = [F.col(match_on).alias(match_on)] if match_on else []
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("q_norm"),
        *extra_q,
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("c_norm"),
        *extra_c,
    )
    cond = F.col("query_id") != F.col("neighbor_id")
    if match_on:
        cond = cond & (F.col("_q_meta") == F.col(match_on))
    scored = (
        F.broadcast(q)
        .join(c, cond)
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine"),
            *([F.col(match_on)] if match_on else []),
        )
    )
    return sim._rank_topk(
        scored, k, extra_cols=[match_on] if match_on else None
    )


def _planes_frame_lazy(
    corpus: DataFrame, vec_col: str, n_planes: int, n_tables: int, seed: int
) -> DataFrame:
    """The seeded hyperplane tensor as a 1-row frame, its dimension taken
    from the corpus's first non-NULL vector at action time (an empty
    corpus gives an empty planes frame)."""
    dim_df = (
        corpus.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("__dim"))
        .limit(1)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"_tensor": []})
                continue
            d = max(int(pdf["__dim"].iloc[0]), 1)
            planes = sim._hyperplanes(d, n_planes, n_tables, seed)
            tensor = [
                [[float(x) for x in plane] for plane in table]
                for table in planes
            ]
            yield pd.DataFrame({"_tensor": [tensor]})

    return dim_df.mapInPandas(
        gen, schema="_tensor array<array<array<double>>>"
    )


def _tables_expr(vec_col: str, n_planes: int) -> Column:
    """(table_id, bucket) struct array for ALL tables from the joined
    ``_tensor`` row — the interpreted spec for sim._lsh_bucketizer.
    Sign-pattern bucket id per table: Σ (dot(v, plane_i) > 0) << i. NULL
    vectors hash to bucket 0 in every table (NULL dot → IF false → 0)."""
    return F.expr(
        f"""
        transform(_tensor, (tbl, t) -> named_struct(
          'table_id', t,
          'bucket', aggregate(
            zip_with(tbl, sequence(0, {n_planes - 1}), (p, i) ->
              IF(aggregate(zip_with({vec_col}, p,
                             (x, y) -> CAST(x AS DOUBLE) * y),
                           CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) > 0,
                 shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (acc, x) -> acc + x)))
        """
    )


@pytest.fixture(scope="module")
def em(spark, sf_dir):
    return sim.filter_modal_dim(load_table(spark, sf_dir, "embeddings"))


def _hof_pairs(em, threshold: float):
    a = em.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        l2_norm("embedding").alias("na"),
    )
    b = em.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        l2_norm("embedding").alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "id_a",
            "id_b",
            (dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .where(stable_round(F.col("cosine"), 4) >= threshold)
    )


def lsh_cosine_pairs_expr(
    corpus: DataFrame,
    threshold: float,
    dim: int | None = None,
    n_planes: int = 5,
    n_tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Attach-and-fold spec for sim.lsh_cosine_pairs, as the operator
    shipped before it moved onto the kernel: self-join the bucket ids on
    (table, bucket), keep id_a < id_b once, re-attach one (min) vector
    and its norm per id, fold the cosine, threshold the rounded value."""

    def bucketize(prefix: str) -> DataFrame:
        nv = corpus.select(
            F.col("vec_id").alias(f"{prefix}_id"),
            F.col("embedding").alias(f"{prefix}_vec"),
        )
        return sim._bucketize(nv, n_planes, n_tables, seed, dim)

    def attach(prefix: str) -> DataFrame:
        one = corpus.groupBy(F.col("vec_id").alias(f"{prefix}_id")).agg(
            F.min("embedding").alias(f"{prefix}_vec")
        )
        return one.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            l2_norm(f"{prefix}_vec").alias(f"{prefix}_norm"),
        )

    cand = (
        bucketize("query")
        .join(bucketize("neighbor"), ["table_id", "bucket"])
        .where(F.col("query_id") < F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.join(attach("query"), "query_id").join(
        attach("neighbor"), "neighbor_id"
    ).select(
        "query_id",
        "neighbor_id",
        cosine_from_norms(
            F.col("query_vec"), F.col("neighbor_vec"),
            F.col("query_norm"), F.col("neighbor_norm"),
        ).alias("cosine"),
    )
    rounded = stable_round(F.col("cosine"), 4)
    return scored.where(rounded >= threshold).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        rounded.alias("cosine"),
    )


def semdedup_victims_expr(v: DataFrame, tau: float) -> DataFrame:
    """Self-join spec for SemDeDup's victims over ``v`` (cid, vec_id,
    embedding): every vector whose stable-rounded cosine to a lower-id
    vector of its cluster reaches tau, as distinct (cid, victim)."""
    n = v.select("cid", "vec_id", "embedding", l2_norm("embedding").alias("nrm"))
    a = n.select(
        "cid",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("cid").alias("cid_b"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos4 = stable_round(dot("va", "vb") / (F.col("na") * F.col("nb")), 4)
    return (
        a.join(
            b, (F.col("cid") == F.col("cid_b")) & (F.col("id_a") < F.col("id_b"))
        )
        .where((F.col("na") > 0) & (F.col("nb") > 0) & (cos4 >= tau))
        .select("cid", F.col("id_b").alias("victim"))
        .distinct()
    )


def ivf_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """Join-and-fold spec for sim.ivf_topk, as the operator shipped before
    it moved onto the kernel: norm columns, a max_by argmax for the
    corpus and a window for the probes, a candidate equi-join on
    centroid_id, dropDuplicates and the cosine fold. Callers pass inputs
    already reduced to one vector per non-NULL id."""
    cents = F.broadcast(
        corpus.orderBy(F.asc_nulls_last("vec_id"), F.asc("embedding"))
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cent_vec"),
        )
    )

    def assign(df: DataFrame, prefix: str, probes: int) -> DataFrame:
        scored = (
            df.select(
                F.col("vec_id").alias(f"{prefix}_id"),
                F.col("embedding").alias(f"{prefix}_vec"),
                l2_norm("embedding").alias(f"{prefix}_norm"),
            )
            .join(cents)
            .select(
                f"{prefix}_id",
                f"{prefix}_vec",
                f"{prefix}_norm",
                "centroid_id",
                dot(F.col(f"{prefix}_vec"), F.col("cent_vec")).alias("cscore"),
            )
        )
        if probes == 1:
            return scored.groupBy(f"{prefix}_id").agg(
                F.max_by(
                    "centroid_id",
                    F.struct(F.col("cscore"), (-F.col("centroid_id")).alias("nid")),
                ).alias("centroid_id"),
                F.first(f"{prefix}_vec").alias(f"{prefix}_vec"),
                F.first(f"{prefix}_norm").alias(f"{prefix}_norm"),
            )
        w = Window.partitionBy(f"{prefix}_id").orderBy(
            F.desc("cscore"), F.asc_nulls_last("centroid_id")
        )
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= probes)
            .drop("_r", "cscore")
        )

    scored = (
        assign(queries, "query", n_probe)
        .join(assign(corpus, "neighbor", 1), "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("query_vec"), F.col("neighbor_vec"),
                F.col("query_norm"), F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    return sim._rank_topk(scored, k)


def _min_per_id(df: DataFrame) -> DataFrame:
    return df.groupBy("vec_id").agg(F.min("embedding").alias("embedding"))


@pytest.mark.parametrize("threshold", [0.4, 0.0])
def test_blocked_cosine_pairs_bit_identical_to_hof(em, threshold):
    ref = {(r.id_a, r.id_b): r.cosine for r in _hof_pairs(em, threshold).collect()}
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in sim.blocked_cosine_pairs(em, threshold).collect()
    }
    assert set(got) == set(ref)
    assert all(_bits(got[k]) == _bits(ref[k]) for k in ref)


def test_blocked_cosine_pairs_more_blocks_than_rows(spark, monkeypatch):
    monkeypatch.setattr(sim, "_block_count", lambda df: 16)
    few = spark.range(3).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") + 1).cast("float"), F.lit(1.0).cast("float")
        ).alias("embedding"),
    )
    rows = sim.blocked_cosine_pairs(few, threshold=0.0).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(0, 1), (0, 2), (1, 2)}


def test_blocked_cosine_pairs_excludes_zero_norm_and_null_id(spark):
    f = F.lit(0.0).cast("float")
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 1.0]),
        (3, [0.0, 0.0]),  # zero norm — never pairs
        (None, [1.0, 1.0]),  # NULL id — never pairs
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b) for r in sim.blocked_cosine_pairs(df, -1.0).collect()}
    assert got == {(1, 2)}
    _ = f


def test_arrow_bucketizer_matches_tables_expr(em, spark):
    """Bucket ids from the NumPy kernel must equal the interpreted
    expression form (the SQL-literal oracles embed the same algebra)."""
    n_planes, n_tables, seed = 5, 12, 42
    base = em.groupBy("vec_id").agg(F.min("embedding").alias("embedding"))
    planes_df = _planes_frame_lazy(base, "embedding", n_planes, n_tables, seed)
    ref_rows = (
        base.crossJoin(F.broadcast(planes_df))
        .select(
            "vec_id", F.explode(_tables_expr("embedding", n_planes)).alias("t")
        )
        .select("vec_id", "t.table_id", "t.bucket")
        .collect()
    )
    ref = {(r.vec_id, r.table_id): r.bucket for r in ref_rows}
    got_rows = base.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).mapInArrow(
        sim._lsh_bucketizer("q_vec", n_planes, n_tables, seed, dim=None),
        "q_id long, table_id int, bucket bigint",
    )
    got = {(r.q_id, r.table_id): r.bucket for r in got_rows.collect()}
    assert got == ref


def test_arrow_bucketizer_mismatched_dim_buckets_zero(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0] * 5), (3, None)],
        "vec_id long, embedding array<float>",
    )
    out = df.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).mapInArrow(
        sim._lsh_bucketizer("q_vec", 4, 2, 42, dim=2),
        "q_id long, table_id int, bucket bigint",
    )
    rows = out.collect()
    # every row appears once per table; off-dimension and NULL vectors
    # land in bucket 0 of every table (the zip_with-pads-NULL semantics)
    assert len(rows) == 6
    assert all(r.bucket == 0 for r in rows if r.q_id in (2, 3))
    assert any(r.bucket != 0 for r in rows if r.q_id == 1)


# ---------------------------------------------------------------------------
# brute_force_topk's kernel mode vs the expression spec above
# ---------------------------------------------------------------------------


def _topk_key(rows, with_label=False):
    out = []
    for r in rows:
        t = (
            r.query_id,
            r.neighbor_id,
            _bits(r.cosine),
            r.rank,
        )
        if with_label:
            t += (r.label,)
        out.append(t)
    return sorted(out)


def test_brute_force_topk_bit_identical_on_corpus(em):
    queries = em.where(F.col("vec_id") < 20)
    ref = _topk_key(brute_force_topk_expr(em, queries, k=10).collect())
    got = _topk_key(sim.brute_force_topk(em, queries, k=10).collect())
    assert ref == got
    reff = _topk_key(
        brute_force_topk_expr(em, queries, k=5, match_on="label").collect(),
        with_label=True,
    )
    gotf = _topk_key(
        sim.brute_force_topk(em, queries, k=5, match_on="label").collect(),
        with_label=True,
    )
    assert reff == gotf


@pytest.fixture(scope="module")
def edge_corpus(spark):
    rows = [
        (1, [1.0, 2.0], 1),  # normal
        (2, [3.0, -1.0], 1),  # normal
        (3, [0.0, 0.0], 2),  # zero norm -> NULL cosine
        (4, None, 1),  # NULL vector -> NULL cosine
        (5, [1.0, None], 1),  # NULL element -> NULL cosine
        (6, [1.0, 2.0, 3.0], 1),  # ragged length -> NULL cosine pairs
        (None, [9.0, 9.0], 1),  # NULL id -> never pairs
        (2, [3.0, -1.0], 1),  # duplicated id row (pk-variant shape)
        (7, [float("nan"), 1.0], 1),  # NaN element -> NaN cosine, ranks first
        (8, [2.0, 1.0], None),  # NULL label -> dropped under match_on
        # labels 2^53 and 2^53+1 are distinct as int64 but equal as
        # float64 — the kernel must compare them in their own type even
        # when a NULL label shares the batch
        (9, [1.0, 1.0], 2**53),
        (10, [1.0, 3.0], 2**53 + 1),
        (11, [2.0, 3.0], None),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )


@pytest.mark.parametrize("k", [2, 10])
@pytest.mark.parametrize("match_on", [None, "label"])
def test_brute_force_topk_edge_parity(edge_corpus, k, match_on):
    """NULL vectors/elements/ids/labels, zero norms, NaN elements, ragged
    lengths, duplicated ids and int64 labels past 2^53 must all come out
    EXACTLY as the expression path emits them (same rows, bit-identical
    cosines, same ranks)."""
    q = edge_corpus.where(
        (F.col("vec_id") < 6) | (F.col("vec_id") > 8) | F.col("vec_id").isNull()
    )
    ref = _topk_key(
        brute_force_topk_expr(
            edge_corpus, q, k=k, match_on=match_on
        ).collect(),
        with_label=match_on is not None,
    )
    got = _topk_key(
        sim.brute_force_topk(edge_corpus, q, k=k, match_on=match_on).collect(),
        with_label=match_on is not None,
    )
    assert ref == got


@pytest.mark.parametrize("threshold", [0.0, 0.4])
def test_blocked_cosine_pairs_edge_parity(edge_corpus, threshold):
    """NULL vectors and elements, ragged lengths, NaN elements, zero
    norms, NULL ids and a duplicated id must give the pairs the
    expression form gives, with bit-identical cosines. A multiset: the
    duplicated id 2 pairs twice with each other id."""
    ref = sorted(
        (r.id_a, r.id_b, _bits(r.cosine))
        for r in _hof_pairs(edge_corpus, threshold).collect()
    )
    got = sorted(
        (r.id_a, r.id_b, _bits(r.cosine))
        for r in sim.blocked_cosine_pairs(edge_corpus, threshold).collect()
    )
    assert got == ref


def test_brute_force_topk_more_blocks_than_rows(edge_corpus, monkeypatch):
    monkeypatch.setattr(sim, "_block_count", lambda df: 64)
    q = edge_corpus.where(F.col("vec_id") < 6)
    ref = _topk_key(brute_force_topk_expr(edge_corpus, q, k=3).collect())
    got = _topk_key(sim.brute_force_topk(edge_corpus, q, k=3).collect())
    assert ref == got


@pytest.mark.parametrize("k", [1, 2])
def test_brute_force_topk_one_block_nan_ranks_as_zero(edge_corpus, monkeypatch, k):
    """With every corpus row in one block, the local cut alone decides
    which candidates reach the rank window. stable_round(NaN) is 0.0 in
    Spark (floor yields a BIGINT), so the NaN cosine of row 7 ranks as
    0.0 — a cut that ranked NaN first would crowd out the true top-k."""
    monkeypatch.setattr(sim, "_block_count", lambda df: 1)
    q = edge_corpus.where(F.col("vec_id").isin(1, 2, 9))
    ref = _topk_key(brute_force_topk_expr(edge_corpus, q, k=k).collect())
    got = _topk_key(sim.brute_force_topk(edge_corpus, q, k=k).collect())
    assert ref == got


@pytest.mark.parametrize("k", [None, 2])
def test_block_kernel_output_does_not_depend_on_slicing(edge_corpus, monkeypatch, k):
    """The kernel walks the right side in _MAX_CELLS slices; one right row
    per slice must emit the rows a single slice emits, in both modes (the
    top-k mode then re-cuts the union of the slices' cuts)."""
    import pyarrow as pa

    rows = [r for r in edge_corpus.collect() if r.vec_id is not None]
    n = len(rows)
    tbl = pa.table(
        {
            "_pside": pa.array([0] * n + [1] * n, pa.int32()),
            "_bi": pa.array([0] * 2 * n, pa.int32()),
            "_bj": pa.array([0] * 2 * n, pa.int32()),
            "_pid": pa.array([r.vec_id for r in rows] * 2, pa.int64()),
            "_pvec": pa.array([r.embedding for r in rows] * 2, pa.list_(pa.float32())),
        }
    )
    kernel = sim._block_kernel(threshold=0.0) if k is None else sim._block_kernel(k=k)

    def emitted():
        return sorted(str(tuple(r.values())) for r in kernel(tbl).to_pylist())

    whole = emitted()
    monkeypatch.setattr(sim, "_MAX_CELLS", 1)
    assert emitted() == whole
    assert whole


def test_brute_force_topk_empty_sides(edge_corpus):
    empty = edge_corpus.where(F.lit(False))
    assert sim.brute_force_topk(empty, edge_corpus, k=3).count() == 0
    assert sim.brute_force_topk(edge_corpus, empty, k=3).count() == 0


@pytest.fixture(scope="module")
def edge_dup(spark, edge_corpus):
    """edge_corpus plus a second, lexicographically smaller vector for id
    1 (and another label): the duplicated-id shape whose min decides."""
    extra = spark.createDataFrame(
        [(1, [-2.0, 1.0], 2)], "vec_id long, embedding array<float>, label long"
    )
    return edge_corpus.unionByName(extra)


@pytest.mark.parametrize("threshold", [-1.0, 0.0, 0.4])
def test_lsh_cosine_pairs_edge_parity(edge_dup, threshold):
    """The kernel path returns the attach-and-fold spec's rows on the
    min-reduced corpus, bit for bit: NULL vectors and elements, a ragged
    length, NaN, zero norms, NULL ids and duplicated ids included."""
    kw = dict(dim=2, n_planes=1, n_tables=3)
    ref = sorted(
        (r.id_a, r.id_b, _bits(r.cosine))
        for r in lsh_cosine_pairs_expr(
            _min_per_id(edge_dup), threshold, **kw
        ).collect()
    )
    got = sorted(
        (r.id_a, r.id_b, _bits(r.cosine))
        for r in sim.lsh_cosine_pairs(edge_dup, threshold, **kw).collect()
    )
    assert got == ref
    assert got


@pytest.mark.parametrize("tau", [0.0, 0.1])
def test_semdedup_victims_edge_parity(edge_dup, tau):
    """grouped_cosine_pairs in SemDeDup's shape (group = cid, the cid
    carried through the kernel) returns the self-join spec's victims,
    per row: duplicated ids keep their multiplicity, a NULL cid pairs
    with nothing, and int64 cids past 2^53 stay apart."""
    v = edge_dup.select(F.col("label").alias("cid"), "vec_id", "embedding")
    ref = sorted(semdedup_victims_expr(v, tau).collect())
    got = sorted(
        sim.grouped_cosine_pairs(v, F.col("cid"), tau, meta_col="cid")
        .select("cid", F.col("id_b").alias("victim"))
        .distinct()
        .collect()
    )
    assert got == ref
    assert got


def test_semdedup_victims_match_self_join_on_corpus(spark, sf_dir):
    from e2e_etl_pipeline_spark.queries import curation

    v, victims = curation._semdedup_v_and_victims(spark, sf_dir)
    try:
        ref = sorted(semdedup_victims_expr(v, curation.SEMDEDUP_TAU).collect())
        assert sorted(victims.collect()) == ref
        assert ref
    finally:
        v.unpersist()


@pytest.mark.parametrize("k", [2, 10])
def test_ivf_topk_edge_parity(edge_dup, k):
    """The kernel path returns the join-and-fold spec's rows on the
    reduced inputs: same neighbors, bit-identical cosines, same ranks."""
    q = edge_dup.where(F.col("vec_id") < 6)
    one = _min_per_id(edge_dup.where(F.col("vec_id").isNotNull()))
    ref = _topk_key(
        ivf_topk_expr(
            one, one.where(F.col("vec_id") < 6), k=k, n_centroids=3
        ).collect()
    )
    got = _topk_key(sim.ivf_topk(edge_dup, q, k=k, n_centroids=3).collect())
    assert ref == got
    assert got


def test_ivf_topk_matches_join_and_fold_on_corpus(em):
    one = _min_per_id(em)
    queries = one.where(F.col("vec_id") < 20)
    ref = _topk_key(ivf_topk_expr(one, queries, k=10).collect())
    got = _topk_key(sim.ivf_topk(em, em.where(F.col("vec_id") < 20), k=10).collect())
    assert ref == got


def test_duplicated_id_operators_equal_min_reduced_corpus(spark):
    """lsh_cosine_pairs and ivf_topk take one vector per id, the
    lexicographic min. Id 1 carries -a and a, where a is the hyperplane's
    normal with a positive first element; id 2 carries a. Only the
    non-min vector of id 1 shares id 2's bucket, so bucketing every row
    would pair (1, 2) and score it with -a (cosine -1)."""
    import numpy as np

    p = sim._hyperplanes(2, 1, 1, seed=42)[0, 0]
    a = [float(x) for x in (p if p[0] > 0 else -p)]
    neg = [-x for x in a]
    dup = spark.createDataFrame(
        [(1, neg), (1, a), (2, a), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    one = _min_per_id(dup)
    assert np.sign(np.dot(neg, p)) != np.sign(np.dot(a, p))

    def pairs(df):
        return sorted(
            sim.lsh_cosine_pairs(
                df, -1.0, dim=2, n_planes=1, n_tables=1
            ).collect()
        )

    assert pairs(dup) == pairs(one)
    assert all((r.id_a, r.id_b) != (1, 2) for r in pairs(dup))

    def topk(df):
        return _topk_key(
            sim.ivf_topk(df, df, k=3, n_centroids=2, n_probe=1).collect()
        )

    assert topk(dup) == topk(one)
