"""Vector math over array<numeric> embedding columns, in both dialects.

This module is the only place that spells the vector fold. Every dot
product, norm, cosine and squared distance accumulates its per-dimension
terms as doubles, left to right, from 0.0. Spark runs the fold as
F.zip_with / F.aggregate; the ``*_sql`` twins run it in DuckDB as
list_transform / list_sum over the same terms in the same order. So both
engines produce the identical double for identical input, the way
textstats.words_sql and rounding.stable_round_sql twin their engine
functions. The NumPy kernels of operators/similarity.py accumulate in the
same order too.

The higher-order functions run JVM-side, but interpreted: their lambdas
are CodegenFallback in Spark 4.1, so a hot pairwise path scores in
similarity._block_kernel instead.

Contract: both vectors of a pair have equal length and no NULL element.
The engines part on anything else (zip_with pads the shorter vector with
NULL and aggregate propagates it, while list_sum skips NULL terms), so
every pairwise caller gates its corpus to the modal dimension first
(similarity.filter_modal_dim / modal_dim_sql). Zero vectors are in the
contract: their norm is 0 and their cosine is NULL on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _fold(terms: Column) -> Column:
    """Left-to-right double sum of an array column, from 0.0."""
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns, accumulated as double
    (left-to-right, deterministic order)."""
    return _fold(F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")))


def l2_norm(col: Column | str) -> Column:
    """Euclidean norm of an array<numeric> column."""
    return F.sqrt(
        F.aggregate(
            _c(col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def sq_dist(a: Column | str, b: Column | str) -> Column:
    """Squared Euclidean distance of two array<numeric> columns."""
    return _fold(
        F.zip_with(
            _c(a),
            _c(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
    )


def cosine_from_norms(a: Column | str, b: Column | str, a_norm: Column, b_norm: Column) -> Column:
    """Cosine from precomputed norms; NULL when either norm is zero. The
    one zero-norm guard: cosine_similarity and cosine_sql use it too."""
    return F.when((a_norm == 0) | (b_norm == 0), F.lit(None).cast("double")).otherwise(
        dot(a, b) / (a_norm * b_norm)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))


def dot_sql(a: str, b: str) -> str:
    """The DuckDB-side twin of dot, over the length of ``a``."""
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def l2_norm_sql(v: str) -> str:
    """The DuckDB-side twin of l2_norm."""
    return f"sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def sq_dist_sql(a: str, b: str) -> str:
    """The DuckDB-side twin of sq_dist, over the length of ``a``."""
    d = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return f"list_sum(list_transform(range(1, len({a}) + 1), i -> {d} * {d}))"


def cosine_sql(a: str, b: str, a_norm: str | None = None, b_norm: str | None = None) -> str:
    """The DuckDB-side twin of cosine_from_norms, or of cosine_similarity
    when the norms are left out."""
    na = a_norm or l2_norm_sql(a)
    nb = b_norm or l2_norm_sql(b)
    return f"CASE WHEN {na} = 0 OR {nb} = 0 THEN NULL ELSE {dot_sql(a, b)} / ({na} * {nb}) END"
