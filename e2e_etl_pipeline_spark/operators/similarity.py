"""Exact and approximate nearest-neighbor search over embedding columns.

Every operator whose candidates are "all pairs inside a group" scores
them in one blocked Arrow kernel (_block_kernel): rows are tagged with a
group key, each group goes to NumPy once, and every cosine is accumulated
per dimension, left to right, in float64 — bit-identical to the
zip_with/aggregate fold of functions/vectors.py. The operators differ
only in their groups:
  * brute_force_topk — cosine top-k per query over hash blocks of the
    corpus; each block cuts its local top-k before the final window.
  * blocked_cosine_pairs — every unordered pair at or above a threshold
    over hash-block pairs (the exact ground truth of the dedup keys).
  * grouped_cosine_pairs — the same pairs inside caller-chosen groups:
    LSH (table, bucket) in lsh_cosine_pairs, SemDeDup clusters.
  * ivf_topk — coarse centroids plus probe-N: each centroid's group holds
    the queries that probe it and the corpus vectors assigned to it.

lsh_bucketed_topk is the one approximate operator off the kernel: its
candidates come from an id-only equi-join on (table, bucket), and only
the surviving pairs re-attach vectors (see its docstring for the
measured regime). Random-hyperplane buckets come from a seeded NumPy
tensor, regenerated inside the bucketizer kernel (SURVEY.md §2 B.8, §4.2).

The oracle twins sit beside their operators: modal_dim_sql (the gate),
rank_topk_sql (the top-k epilogue) and brute_force_topk_sql (the exact
top-k, the ground truth the approximate modes are checked against).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.functions.rounding import stable_round, stable_round_sql
from e2e_etl_pipeline_spark.functions.vectors import (
    cosine_from_norms,
    cosine_sql,
    dot,
    l2_norm,
    l2_norm_sql,
)


def modal_dim_sql(src: str = "embeddings") -> str:
    """DuckDB-side twin of filter_modal_dim: the modal vector length of
    relation ``src`` as a 1-row query. Embed it as ``__dim AS (...)`` and
    gate consumers with ``len(embedding) = (SELECT d FROM __dim)``."""
    return (
        f"SELECT len(embedding) AS d FROM {src} WHERE embedding IS NOT NULL "
        "GROUP BY 1 ORDER BY count(*) DESC, d ASC LIMIT 1"
    )


# The gate over the embeddings table, the one every oracle but SemDeDup's uses.
MODAL_DIM_SQL = modal_dim_sql()


def filter_modal_dim(em: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Keep only rows whose vector length equals the corpus's MODAL length
    (ties → smaller) — the cross-engine contract for every pairwise
    vector op (round-7 advice, extended repo-wide by the round-8 ragged
    fuzz variant): a length-mismatched zip gives DuckDB's list_sum a
    PARTIAL sum (NULL terms skipped) but Spark's zip_with/aggregate a NULL
    — silent divergence. Pinning the dimension excludes ragged vectors
    identically on both sides instead. NULL vectors drop too (size(NULL)
    is NULL under ANSI, -1 without — never equal to a real length).

    The modal frame is a 1-row broadcast join, so query construction stays
    job-free. The tiny keyed aggregate is part of each query's plan
    (identical consumer subtrees can share its exchange); no frame
    outlives the query."""
    dim = (
        em.where(F.col(vec_col).isNotNull())
        .groupBy(F.size(vec_col).alias("__d"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), F.asc("__d"))
        .limit(1)
        .select("__d")
    )
    return em.join(
        F.broadcast(dim), F.size(vec_col) == F.col("__d")
    ).drop("__d")


def _rank_topk(scored: DataFrame, k: int, extra_cols: list[str] | None = None) -> DataFrame:
    """Shared top-k epilogue: deterministic per-query ranking (4-dp-rounded
    cosine desc, neighbor_id tiebreak), rank filter, 4-dp rounding.
    stable_round, not round: the cosine is a division-derived double, so a
    4-dp-midpoint rendering would round apart across engines under plain
    round() (functions/rounding.py — review find, round 7). Its DuckDB
    twin is rank_topk_sql.

    The window ORDERS BY the ROUNDED cosine (round-9 advice): ordering raw
    doubles relied on bit-identical left-to-right summation across Spark's
    aggregate() and DuckDB's list_sum — proven on current data but an
    unpinned assumption; ranking on the same stable_round(cosine, 4) both
    engines emit removes it at no recall cost (a rank flip inside a 1e-4
    bucket swaps near-equal neighbors). The neighbor_id tiebreak makes the
    rounded order total, and the displayed cosine now always agrees with
    the rank order."""
    # asc_nulls_last, not asc: Spark ASC is NULLS FIRST but DuckDB is NULLS
    # LAST in both directions (registry pk-variant rule). neighbor_id is
    # non-NULL in every current caller (the pair filter drops NULL ids),
    # but the pin keeps the rule mechanical. DESC defaults agree (NULLS
    # LAST both engines) — relevant for NULL cosines from zero-norm pairs
    # (stable_round(NULL) is NULL).
    rounded = stable_round(F.col("cosine"), 4)
    win = Window.partitionBy("query_id").orderBy(
        F.desc(rounded), F.asc_nulls_last("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            rounded.alias("cosine"),
            "rank",
            *(extra_cols or []),
        )
    )


def rank_topk_sql(scored: str, k: int, extra_cols: list[str] | None = None) -> str:
    """The DuckDB-side twin of _rank_topk over relation ``scored``
    (query_id, neighbor_id, raw cosine, ``extra_cols``): the same window
    order, rank filter and stable-rounded cosine, the same columns."""
    rounded = stable_round_sql("cosine", 4)
    extra = "".join(f", {c}" for c in extra_cols or [])
    return f"""
    SELECT query_id, neighbor_id, {rounded} AS cosine,
           CAST(rank AS INTEGER) AS rank{extra}
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY {rounded} DESC, neighbor_id) AS rank
          FROM {scored})
    WHERE rank <= {k}
    """


# Bound on score-matrix cells (left rows × right rows) per kernel slice: the
# kernel walks the right side in slices of at most this many cells, so each
# float64 matrix stays near 8 MB however large a block grows.
_MAX_CELLS = 1 << 20


def _block_count(df: DataFrame) -> int:
    """Blocks for an exact operator: one per default task slot of the
    session's cluster. A py4j read, not a Spark job, so construction stays
    job-free. Output never depends on it (tests/test_similarity_blocked.py
    pins that)."""
    return max(1, df.sparkSession.sparkContext.defaultParallelism)


def _block_of(id_col: str, blocks: int) -> Column:
    """Deterministic block of a row: pmod(xxhash64(id), blocks)."""
    return F.pmod(F.xxhash64(id_col), F.lit(blocks)).cast("int")


def _tagged_sides(
    left: DataFrame,
    right: DataFrame | None,
    id_col: str,
    vec_col: str,
    left_keys: list[Column],
    right_keys: list[Column],
    meta_col: str | None = None,
) -> DataFrame:
    """Both sides of a blocked operator on ONE frame, tagged ``_pside`` 0
    (left) and 1 (right), with their group keys, ``_pid``, ``_pvec`` and
    optional ``_pmeta``. One tagged frame, not a cogroup: two frames
    derived from the same corpus trip the ambiguous-self-join check.
    ``right=None`` puts every left row on both sides with the same keys,
    in one pass over ``left``. NULL ids never pair (every join predicate
    the operators mirror drops them), so they are filtered here and block
    assignment is total."""

    def side(df: DataFrame, tag: Column, keys: list[Column]) -> DataFrame:
        meta = [F.col(meta_col).alias("_pmeta")] if meta_col else []
        return df.where(F.col(id_col).isNotNull()).select(
            tag.alias("_pside"),
            *keys,
            F.col(id_col).alias("_pid"),
            F.col(vec_col).alias("_pvec"),
            *meta,
        )

    if right is None:
        return side(left, F.explode(F.array(F.lit(0), F.lit(1))), left_keys)
    return side(left, F.lit(0), left_keys).unionByName(side(right, F.lit(1), right_keys))


def _list_arrays(col) -> dict:
    """An Arrow list<number> column as NumPy: list starts, lengths (-1 for
    a NULL vector), float64 element values and ``clean`` — non-NULL with
    no NULL element."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    valid = ~np.asarray(col.is_null())
    off = np.asarray(col.offsets)
    lens = np.full(n, -1, dtype=np.int64)
    lens[valid] = (off[1:] - off[:-1])[valid]
    # The RAW child array with absolute offsets: flatten() drops NULL
    # entries' slots and would misalign.
    child = col.values
    vals = child.to_numpy(zero_copy_only=False).astype(np.float64)
    if child.null_count:
        cum = np.concatenate(
            [[0], np.cumsum(np.asarray(child.is_null(), dtype=np.int64))]
        )
        row_has_null = (cum[off[1:]] - cum[off[:-1]]) > 0
    else:
        row_has_null = np.zeros(n, dtype=bool)
    return {
        "clean": valid & ~row_has_null,
        "starts": off[:-1],
        "lens": lens,
        "vals": vals,
        "n": n,
    }


def _side_arrays(tbl, has_meta: bool) -> dict:
    """One side of a block group as NumPy: _list_arrays of its vectors,
    its ids and, under ``has_meta``, the metadata in its own type."""
    import numpy as np
    import pyarrow as pa

    side = _list_arrays(tbl.column("_pvec"))
    side["ids"] = tbl.column("_pid").to_numpy()
    if has_meta:
        meta = tbl.column("_pmeta")
        if isinstance(meta, pa.ChunkedArray):
            meta = meta.combine_chunks()
        side["meta_valid"] = ~np.asarray(meta.is_null())
        # Compare in the column's own type: with NULLs present, to_numpy
        # widens int64 to float64 and values >= 2^53 collide. NULL slots
        # take some valid value instead; meta_valid masks them out.
        if meta.null_count and side["meta_valid"].any():
            meta = meta.fill_null(meta.drop_null()[0])
        side["meta"] = meta.to_numpy(zero_copy_only=False)
    return side


def _cosine_slice(q: dict, c: dict, lo: int, hi: int):
    """(left rows × right rows [lo, hi)) raw cosines and NULL flags.

    Dot and both norms accumulate per dimension, left to right, in float64
    — the IEEE order of the vectors.dot / l2_norm folds, so every cosine is
    bit-identical to the expression path. A cosine is NULL exactly where
    that path yields NULL: a NULL vector or NULL ELEMENT on either side
    (zip_with/aggregate NULL propagation), unequal lengths (zip_with pads
    with NULL) or a zero norm (the explicit guard). NaN elements give NaN,
    never NULL. Rows are grouped by vector length; only equal lengths are
    scored."""
    import numpy as np

    c_lens = c["lens"][lo:hi]
    c_clean = c["clean"][lo:hi]
    c_starts = c["starts"][lo:hi]
    cos = np.zeros((q["n"], hi - lo))
    isnull = np.ones((q["n"], hi - lo), dtype=bool)
    for d in np.unique(q["lens"][q["clean"]]):
        qi = np.nonzero(q["clean"] & (q["lens"] == d))[0]
        ci = np.nonzero(c_clean & (c_lens == d))[0]
        if len(ci) == 0:
            continue
        dims = np.arange(d)
        Q = q["vals"][q["starts"][qi][:, None] + dims]
        C = c["vals"][c_starts[ci][:, None] + dims]
        na = np.zeros(len(qi))
        nb = np.zeros(len(ci))
        acc = np.zeros((len(qi), len(ci)))
        for kk in range(d):
            na += Q[:, kk] * Q[:, kk]
            nb += C[:, kk] * C[:, kk]
            acc += Q[:, kk : kk + 1] * C[:, kk]
        na, nb = np.sqrt(na), np.sqrt(nb)
        # per side, not on the product: 0 * NaN is NaN, not zero
        zero = (na == 0)[:, None] | (nb == 0)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos[np.ix_(qi, ci)] = np.where(zero, 0.0, acc / (na[:, None] * nb[None, :]))
        isnull[np.ix_(qi, ci)] = zero
    return cos, isnull


def _round4(cos):
    """stable_round(cosine, 4) as Spark evaluates it. Spark's floor of a
    double is a BIGINT, so a NaN cosine rounds to 0.0 (Java's (long) NaN
    is 0), not to NaN."""
    import numpy as np

    with np.errstate(invalid="ignore"):
        r = np.floor(cos * 10000.0 + 0.5) / 10000.0
    return np.where(np.isnan(r), 0.0, r)


def _topk_cut(part: tuple, nids, k: int) -> tuple:
    """Cut ``part`` — (left row, right row, raw cosine, NULL flag) arrays
    — to each left row's first k candidates in the final rank window's
    total order: NULL cosines last, stable_round(cosine, 4) DESC, neighbor
    id (``nids``) ASC. One lexsort over (row, window order) plus a per-row
    rank. First-k of a sorted multiset survives any partition of it, so
    the union of block-local cuts holds the global top-k rows."""
    import numpy as np

    rows, _, cos, isnull = part
    order = np.lexsort((nids, -np.where(isnull, 0.0, _round4(cos)), isnull, rows))
    ranked = rows[order]
    rank = np.arange(len(ranked)) - np.searchsorted(ranked, ranked)
    pick = order[rank < k]
    return tuple(a[pick] for a in part)


def _block_kernel(k: int | None = None, threshold: float | None = None, has_meta: bool = False):
    """applyInArrow kernel shared by the exact operators. A group holds
    left rows (``_pside`` 0) and right rows (``_pside`` 1); their cosines
    come from _cosine_slice, right rows walked in _MAX_CELLS slices.
    Under ``has_meta`` a pair needs equal non-NULL metadata (Spark SQL
    equality, so NaN = NaN matches), emitted as ``_meta``. Ids keep their
    input type. Two emit modes:

    * local top-k (``k``): per left ROW, its first k right rows in the
      final window's order (_topk_cut), as (query_id, neighbor_id, raw
      cosine[, _meta]). Equal ids (self-match) are DROPPED, as the join
      predicate drops them. Per row, not per id, so a duplicated id keeps
      its multiplicity.
    * threshold pairs (``threshold``): every pair with a non-NULL cosine
      whose stable_round reaches the threshold, as (id_a, id_b, raw
      cosine[, _meta]) with id_a < id_b. A group whose two sides are the
      same rows (``_bi`` = ``_bj``) keeps left id < right id, so each
      unordered pair comes once; other groups hold disjoint blocks (the
      block is a function of the id) and keep every cross pair.

    NULL and ragged vectors, NULL elements and zero norms give a NULL
    cosine: top-k emits it (ranked last), pairs drop it. A NaN cosine
    rounds to 0.0, as in Spark, in both modes."""

    def score(tbl):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        side = tbl.column("_pside")
        left = tbl.filter(pc.equal(side, 0))
        right = tbl.filter(pc.equal(side, 1))
        parts = [
            (np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0), np.zeros(0, bool))
        ]
        if left.num_rows and right.num_rows:
            q = _side_arrays(left, has_meta)
            c = _side_arrays(right, has_meta)
            diagonal = k is None and (
                tbl.column("_bi")[0].as_py() == tbl.column("_bj")[0].as_py()
            )
            step = max(1, _MAX_CELLS // q["n"])
            for lo in range(0, c["n"], step):
                hi = min(lo + step, c["n"])
                cos, isnull = _cosine_slice(q, c, lo, hi)
                q_ids, c_ids = q["ids"][:, None], c["ids"][None, lo:hi]
                if k is None:
                    keep = ~isnull & (_round4(cos) >= threshold)
                    if diagonal:
                        keep &= q_ids < c_ids
                else:
                    keep = q_ids != c_ids
                if has_meta:
                    qm, cm = q["meta"][:, None], c["meta"][None, lo:hi]
                    eq = qm == cm
                    if qm.dtype.kind == "f" and cm.dtype.kind == "f":
                        eq |= np.isnan(qm) & np.isnan(cm)
                    keep &= eq & q["meta_valid"][:, None] & c["meta_valid"][None, lo:hi]
                rows, cols = np.nonzero(keep)
                part = (rows, cols + lo, cos[rows, cols], isnull[rows, cols])
                if k is not None:
                    part = _topk_cut(part, c["ids"][part[1]], k)
                parts.append(part)
        part = tuple(np.concatenate(a) for a in zip(*parts))
        if k is not None and len(parts) > 2:
            # several slices: cut the union of their local cuts
            part = _topk_cut(part, c["ids"][part[1]], k)
        rows, cols, cos, isnull = part
        a = left.column("_pid").take(pa.array(rows))
        b = right.column("_pid").take(pa.array(cols))
        if k is None:
            out = {
                "id_a": pc.min_element_wise(a, b),
                "id_b": pc.max_element_wise(a, b),
                "cosine": pa.array(cos, pa.float64()),
            }
        else:
            out = {
                "query_id": a,
                "neighbor_id": b,
                "cosine": pa.array(cos, pa.float64(), mask=isnull),
            }
        if has_meta:
            out["_meta"] = right.column("_pmeta").take(pa.array(cols))
        return pa.table(out)

    return score


def _score_groups(
    u: DataFrame,
    keys: list[str],
    k: int | None = None,
    threshold: float | None = None,
    meta_col: str | None = None,
) -> DataFrame:
    """Run _block_kernel over the groups of the tagged frame ``u``. The
    ids keep their input type; the metadata comes back as ``meta_col``."""
    id_type = u.schema["_pid"].dataType.simpleString()
    a, b = ("id_a", "id_b") if k is None else ("query_id", "neighbor_id")
    out_schema = f"{a} {id_type}, {b} {id_type}, cosine double"
    if meta_col:
        meta_type = u.schema["_pmeta"].dataType.simpleString()
        out_schema += f", _meta {meta_type}"
    out = u.groupBy(*keys).applyInArrow(
        _block_kernel(k=k, threshold=threshold, has_meta=meta_col is not None),
        out_schema,
    )
    return out.withColumnRenamed("_meta", meta_col) if meta_col else out


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    match_on: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Semantics are IDENTICAL to the expression-form spec in
    tests/test_similarity_blocked.py (bit-identity gated there): same
    pairs, bit-identical cosine doubles, same ranking. The execution shape
    differs: corpus rows hash into _block_count blocks, query rows
    replicate to every block, and _block_kernel scores each block's
    sub-matrix and emits only each query row's LOCAL top-k — at most
    |Q|·k·blocks skinny rows reach the final window instead of |Q|×|C|
    (guide §2.3 aggregate before you shuffle / §8 decide with small rows).
    The local cut uses the window's exact total order, so the global top-k
    is preserved row for row.

    NULL-id rows on either side never pair; everything else — NULL
    vectors, ragged lengths, NULL elements, zero norms, NULL metadata
    under ``match_on`` — reproduces the expression path inside the
    kernel."""
    blocks = _block_count(corpus)
    u = _tagged_sides(
        queries,
        corpus,
        id_col,
        vec_col,
        [F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("_blk")],
        [_block_of(id_col, blocks).alias("_blk")],
        meta_col=match_on,
    )
    cand = _score_groups(u, ["_blk"], k=k, meta_col=match_on)
    return _rank_topk(cand, k, extra_cols=[match_on] if match_on else None)


def brute_force_topk_sql(k: int, query_where: str, match_on: str | None = None) -> str:
    """The DuckDB oracle of brute_force_topk over the ``embeddings``
    table, both sides gated to the modal dimension: every (query,
    neighbor) pair but the self-match, the queries being the rows that
    satisfy ``query_where``, with equal non-NULL ``match_on`` values when
    it is given, ranked by rank_topk_sql."""
    q_meta = f", {match_on} AS q_meta" if match_on else ""
    c_meta = f", {match_on}" if match_on else ""
    on = f" AND q_meta = {match_on}" if match_on else ""
    return f"""
    WITH __dim AS ({MODAL_DIM_SQL}),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv{q_meta},
             {l2_norm_sql("embedding")} AS qn
      FROM embeddings WHERE {query_where}
        AND len(embedding) = (SELECT d FROM __dim)
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv{c_meta},
             {l2_norm_sql("embedding")} AS cn
      FROM embeddings WHERE len(embedding) = (SELECT d FROM __dim)
    ),
    scored AS (
      SELECT query_id, neighbor_id{c_meta}, {cosine_sql("qv", "cv", "qn", "cn")} AS cosine
      FROM q JOIN c ON query_id != neighbor_id{on}
    )
    {rank_topk_sql("scored", k, [match_on] if match_on else None)}"""


def _one_vector_per_id(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The entry contract of the LSH pair and IVF operators: NULL ids go
    (they never pair) and each id keeps ONE vector, the lexicographic min
    (the min-per-id GROUP BY of their oracles). Without it an id with two
    vectors would bucket or probe with one and score with another."""
    return (
        df.where(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(F.min(vec_col).alias(vec_col))
    )


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_tables, n_planes, dim)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer + probe-N clusters.

    Deterministic coarse centroids (the first ``n_centroids`` corpus vectors
    by id — a real deployment would k-means a sample; the plan shape is
    identical). One window assigns both sides against the broadcast
    centroid set (cscore DESC, centroid_id ASC): every corpus vector to
    its best centroid, every query to its ``n_probe`` best. Each centroid
    is then one _block_kernel group — its probing queries on the left, its
    assigned corpus on the right — so the scored set is |corpus| × n_probe
    / n_centroids in expectation, not the cross product. A corpus vector
    sits in one group, so no (query, neighbor) pair is scored twice.

    Both inputs first reduce to one vector per id (_one_vector_per_id)."""
    corpus = _one_vector_per_id(corpus, id_col, vec_col)
    queries = _one_vector_per_id(queries, id_col, vec_col)
    # first n BY ID (not id < n, which yields zero centroids when ids
    # don't start at 0 — e.g. a decimated or re-keyed corpus); ids are
    # unique and non-NULL after the reduction, so the cutoff is total.
    cents = F.broadcast(
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cent_vec"))
    )

    def assign(df: DataFrame, probes: int) -> DataFrame:
        scored = df.join(cents).select(
            id_col, vec_col, "centroid_id", dot(vec_col, "cent_vec").alias("cscore")
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("cscore"), "centroid_id")
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= probes)
            .drop("_r", "cscore")
        )

    group = [F.col("centroid_id").alias("_blk")]
    u = _tagged_sides(
        assign(queries, n_probe), assign(corpus, 1), id_col, vec_col, group, group
    )
    return _rank_topk(_score_groups(u, ["_blk"], k=k), k)


def lsh_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 5,
    n_tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """All unordered candidate pairs with cosine >= threshold — the dedup
    shape of LSH (q_dedup_embedding): unlike the ANN top-k, a dedup stage
    must surface EVERY above-threshold pair, so there is no per-query rank
    truncation (k would silently cap recall for hub vectors with many
    near-duplicates). Returns (id_a, id_b, cosine) with id_a < id_b and
    the cosine stable-rounded to 4 dp.

    Each (table, bucket) is one grouped_cosine_pairs group, so the cost
    is Σ per-bucket collisions across tables, never the corpus cross
    product; a pair that collides in several tables is scored in each
    (bit-identically) and kept once. The threshold applies to the rounded
    cosine, the value both engines emit, so the edge set is
    engine-identical by construction. Recall compounds with table count as
    1-(1-p)^T; the (5 planes, 12 tables) default measures 0.83 recall at
    500 vectors and 0.74 at 5000 on the synthetic near-orthogonal corpus
    at threshold 0.4 (tools-measured, round 7) — production corpora with
    true near-dups (cosine > 0.9) sit far above both.

    The corpus first reduces to one vector per id (_one_vector_per_id)."""
    one = _one_vector_per_id(corpus, id_col, vec_col)
    buckets = _bucketize(one, n_planes, n_tables, seed, dim, keep_vec=True)
    pairs = grouped_cosine_pairs(
        buckets, F.struct("table_id", "bucket"), threshold, id_col, vec_col
    )
    return pairs.select(
        "id_a", "id_b", stable_round(F.col("cosine"), 4).alias("cosine")
    ).distinct()


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH buckets.

    Each vector lands in one bucket per table; candidate pairs share a
    (table, bucket) key. 2^n_planes buckets/table keeps expected bucket size
    |corpus|/256 — the join output is linear in corpus size for spread-out
    data. Recall grows with n_tables.

    Unlike the pair operators, this one stays off _block_kernel: the
    candidate equi-join and its dedupe shuffle ids only (the Arrow
    bucketizer emits (id, table_id, bucket)), and only the surviving pairs
    re-attach one vector per id and fold the cosine. Grouping on (table,
    bucket) instead replicates every CORPUS vector into each of its
    n_tables groups for a handful of queries: at sf0.1 on 4 cores (2,000
    vectors, 20 queries, 6 planes × 32 tables = 2,048 mostly query-less
    groups) a kernel prototype lost in all three measured Spark sessions
    (2.55 → 4.02 s, 3.41 → 4.04 s, and 4.77 s against an unrecorded
    figure for this path)."""
    q = _bucketize(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")),
        n_planes, n_tables, seed, dim,
    )
    c = _bucketize(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("neighbor_vec")),
        n_planes, n_tables, seed, dim,
    )

    def attach(df: DataFrame, prefix: str) -> DataFrame:
        # One deterministic (vector, norm) per id: the min-per-id
        # reduction the LSH oracles pin.
        one = df.groupBy(F.col(id_col).alias(f"{prefix}_id")).agg(
            F.min(vec_col).alias(f"{prefix}_vec")
        )
        return one.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            l2_norm(f"{prefix}_vec").alias(f"{prefix}_norm"),
        )

    cand = (
        q.join(c, ["table_id", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.join(attach(queries, "query"), "query_id").join(
        attach(corpus, "neighbor"), "neighbor_id"
    )
    return _rank_topk(
        scored.select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("query_vec"), F.col("neighbor_vec"), F.col("query_norm"), F.col("neighbor_norm")
            ).alias("cosine"),
        ),
        k,
    )


def _lsh_bucketizer(
    vec_name: str,
    n_planes: int,
    n_tables: int,
    seed: int,
    dim: int | None,
    keep_vec: bool = False,
):
    """mapInArrow kernel: append (table_id, bucket) to every input row,
    replicated once per table, dropping the vector column unless
    ``keep_vec`` — NumPy replacement for the interpreted zip_with/aggregate
    bucket expression (the spec kept in tests/test_similarity_blocked.py)
    with identical bucket values (same seeded tensor, same per-dimension
    left-to-right accumulation, so every dot's sign matches the JVM fold).

    Row classes, mirroring the expression form exactly:
    * conforming rows (length == planes dim, no NULL elements): bucket =
      Σ_i (dot_i > 0) << i, with the NaN-keeps-bit ~(acc <= 0) form
      (Spark treats NaN as greater than any double);
    * NULL vectors, NULL-element vectors, and length-mismatched vectors:
      bucket 0 in every table (zip_with pads with NULL → NULL dot → IF
      false), exactly as the expression path behaved.
    ``dim=None`` derives the dimension from the batch and requires it
    uniform (every registered caller gates the corpus to one length
    first; mixed lengths raise loudly rather than bucket silently)."""

    def run(batches):
        import numpy as np
        import pyarrow as pa

        planes_cache: dict[int, np.ndarray] = {}

        def planes_for(d: int) -> np.ndarray:
            w = planes_cache.get(d)
            if w is None:
                w = _hyperplanes(d, n_planes, n_tables, seed).reshape(
                    n_tables * n_planes, d
                )
                planes_cache[d] = w
            return w

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            v = _list_arrays(batch.column(vec_name))
            if dim is not None:
                d = dim
            else:
                cand = np.unique(v["lens"][v["lens"] >= 0])
                if len(cand) > 1:
                    raise RuntimeError(
                        "_lsh_bucketizer: mixed vector lengths "
                        f"{cand.tolist()} reached the bucketizer — gate "
                        "the corpus (filter_modal_dim / size filter) first"
                    )
                d = int(cand[0]) if len(cand) else 0
            buckets = np.zeros((n, n_tables), dtype=np.int64)
            conform = v["clean"] & (v["lens"] == d)
            if d > 0 and conform.any():
                V = v["vals"][v["starts"][conform][:, None] + np.arange(d)]
                W = planes_for(d)
                acc = np.zeros((V.shape[0], n_tables * n_planes))
                for k in range(d):
                    acc = acc + V[:, k : k + 1] * W[:, k]
                bits = ~(acc <= 0)
                buckets[conform] = (
                    bits.reshape(-1, n_tables, n_planes).astype(np.int64)
                    << np.arange(n_planes, dtype=np.int64)[None, None, :]
                ).sum(axis=2)
            idx = np.repeat(np.arange(n), n_tables)
            base = (batch if keep_vec else batch.drop_columns([vec_name])).take(
                pa.array(idx)
            )
            yield pa.record_batch(
                list(base.columns)
                + [
                    pa.array(
                        np.tile(np.arange(n_tables, dtype=np.int32), n),
                        pa.int32(),
                    ),
                    pa.array(buckets.reshape(-1), pa.int64()),
                ],
                names=list(base.schema.names) + ["table_id", "bucket"],
            )

    return run


def _bucketize(
    nv: DataFrame,
    n_planes: int,
    n_tables: int,
    seed: int,
    dim: int | None,
    keep_vec: bool = False,
) -> DataFrame:
    """The Arrow bucketizer over a two-column (id, vector) frame: one
    (id[, vector], table_id, bucket) row per input row and table.

    Arrow, not SQL (round-11 optimization): n_tables × n_planes
    interpreted zip_with/aggregate dots per vector measured ~1.5 s per
    bucketized side at sf0.1 for 12×5 (the HOF lambdas are
    CodegenFallback); the NumPy kernel keeps every bucket id, and the
    hyperplane tensor is regenerated in-task from the same seeded
    RandomState the SQL-literal oracles embed."""
    fields = nv.schema.fields if keep_vec else nv.schema.fields[:1]
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    return nv.mapInArrow(
        _lsh_bucketizer(nv.columns[1], n_planes, n_tables, seed, dim, keep_vec),
        f"{cols}, table_id int, bucket bigint",
    )


def grouped_cosine_pairs(
    df: DataFrame,
    group: Column,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_col: str | None = None,
) -> DataFrame:
    """Every unordered pair of rows that share ``group``, with id_a <
    id_b, a non-NULL cosine and stable_round(cosine, 4) >= threshold, as
    (id_a, id_b, raw cosine[, meta_col]). Each group is one diagonal
    _block_kernel group (``_bi`` = ``_bj`` = the group), so the cost is
    Σ|group|², never |df|². A pair that shares several groups comes once
    per group; ``meta_col`` (the group's own column, say) rides along
    from the pair's rows."""
    keys = [group.alias("_bi"), group.alias("_bj")]
    u = _tagged_sides(df, None, id_col, vec_col, keys, keys, meta_col=meta_col)
    return _score_groups(u, ["_bi", "_bj"], threshold=threshold, meta_col=meta_col)


def blocked_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All unordered pairs (id_a, id_b) with id_a < id_b, a non-NULL
    cosine and stable_round(cosine, 4) >= threshold — the EXACT
    ground-truth primitive, blocked. Vectors hash into _block_count
    deterministic blocks; each unordered block pair cogroups into one
    task, and _block_kernel scores the whole sub-matrix in NumPy instead
    of evaluating interpreted zip_with/aggregate lambdas per pair. Shuffle
    volume is O(N·blocks) vector rows; compute is the same N²/2 cosines
    the semantics demand, vectorized. The emitted ``cosine`` is the RAW
    double, bit-identical to the expression fold; callers apply
    stable_round to it.

    Pairs drop exactly where the expression form drops them: NULL ids,
    zero norms, NULL vectors or elements and unequal lengths. Callers gate
    the corpus with filter_modal_dim first."""
    blocks = _block_count(corpus)
    block = _block_of(id_col, blocks)
    u = _tagged_sides(
        corpus,
        corpus,
        id_col,
        vec_col,
        [block.alias("_bi"), F.explode(F.sequence(block, F.lit(blocks - 1))).alias("_bj")],
        [F.explode(F.sequence(F.lit(0), block)).alias("_bi"), block.alias("_bj")],
    )
    return _score_groups(u, ["_bi", "_bj"], threshold=threshold)
