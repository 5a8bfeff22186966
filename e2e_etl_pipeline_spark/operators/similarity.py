"""Approximate-nearest-neighbor search over embedding columns.

Three tiers (SURVEY.md §2 B.8, §4.2):
  * brute_force_topk — exact cosine top-k: a blocked NumPy kernel scores
    each corpus block against every query and cuts a local top-k before the
    final per-query window. Correctness baseline.
  * lsh_bucketed_topk — random-hyperplane (sign) LSH: vectors hash to
    sign-pattern buckets per table; candidates come from equi-joins on
    (table, bucket), so the scale cost is Σ bucket-collisions, not the cross
    product. Multiple tables trade recall for cost. Hyperplanes are seeded
    NumPy — deterministic, regenerated inside the bucketizer kernel.
  * (IVF variant — centroid assignment + probe-N — follows the same
    bucket-join shape with k-means centroids; LSH is the default because it
    needs no training pass.)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.functions.rounding import stable_round
from e2e_etl_pipeline_spark.functions.vectors import dot, l2_norm


def with_vector_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm (norm) — precompute once, reuse across joins."""
    return df.withColumn("norm", l2_norm(vec_col))


# DuckDB-side twin of filter_modal_dim (embed as `__dim AS (...)` and gate
# consumers with `len(embedding) = (SELECT d FROM __dim)`).
MODAL_DIM_SQL = """
      SELECT len(embedding) AS d FROM embeddings
      WHERE embedding IS NOT NULL
      GROUP BY 1 ORDER BY count(*) DESC, d ASC LIMIT 1
"""


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


def _cosine_from_norms(a_vec: Column, b_vec: Column, a_norm: Column, b_norm: Column) -> Column:
    """cosine via vectors.dot, reusing precomputed norms (cheaper than
    cosine_similarity, which would re-derive both norms per pair)."""
    return F.when((a_norm == 0) | (b_norm == 0), F.lit(None).cast("double")).otherwise(
        dot(a_vec, b_vec) / (a_norm * b_norm)
    )


def _rank_topk(scored: DataFrame, k: int, extra_cols: list[str] | None = None) -> DataFrame:
    """Shared top-k epilogue: deterministic per-query ranking (4-dp-rounded
    cosine desc, neighbor_id tiebreak), rank filter, 4-dp rounding.
    stable_round, not round: the cosine is a division-derived double, so a
    4-dp-midpoint rendering would round apart across engines under plain
    round() (functions/rounding.py — review find, round 7); the matching
    oracles use the floor(x*1e4+0.5)/1e4 form.

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


def _topk_block_scorer(k: int, has_meta: bool):
    """applyInArrow kernel for brute_force_topk: one block's query rows
    (side 0, replicated to every block) × corpus rows (side 1), emitting
    each query ROW's local top-k candidate rows (query_id, neighbor_id,
    raw cosine double[, meta]).

    Bit-identity + NULL/NaN parity with the expression-form spec (a
    broadcast join + window, kept in tests/test_similarity_blocked.py):
    * dot and both norms accumulate per dimension, left to right, in
      float64 — the same IEEE order as vectors.dot / l2_norm folds, so
      every emitted double is bit-identical to the expression path;
    * cosine is NULL exactly where the expression path yields NULL: a
      NULL vector, a NULL vector ELEMENT on either side (zip_with/
      aggregate NULL-propagation), a length-mismatched pair (zip_with
      pads with NULL), or a zero norm on either side (the explicit
      F.when(norm == 0) guard). NaN ELEMENTS propagate as NaN values,
      never NULL — F.when(NaN == 0) is false, matching here;
    * pairs are DROPPED (not NULL) exactly where the join predicate
      drops them: equal ids (self-match), a NULL id on either side, and
      under ``has_meta`` a NULL or unequal metadata value — all SQL
      comparisons against NULL are non-matches;
    * the local top-k cut orders by the FINAL window's total order —
      stable_round(cosine, 4) DESC with NaN first (Spark sorts NaN above
      every double) and NULL last, then neighbor id ASC — so the union
      of per-block cuts provably contains the global top-k rows
      (first-k-of-a-sorted-multiset is preserved under any partition of
      the multiset). Emitting per query ROW (not per id) preserves
      duplicated-id multiplicity, which the pk fuzz variant requires.
    """

    def _prep(side_tbl):
        import numpy as np
        import pyarrow as pa

        ids = side_tbl.column("_pid")
        if isinstance(ids, pa.ChunkedArray):
            ids = ids.combine_chunks()
        col = side_tbl.column("_pvec")
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        n = len(ids)
        valid = ~np.asarray(col.is_null())
        off = np.asarray(col.offsets)
        lens = np.full(n, -1, dtype=np.int64)
        lens[valid] = (off[1:] - off[:-1])[valid]
        child = col.values
        vals = child.to_numpy(zero_copy_only=False).astype(np.float64)
        if child.null_count:
            cum = np.concatenate(
                [[0], np.cumsum(np.asarray(child.is_null(), dtype=np.int64))]
            )
            row_has_null = (cum[off[1:]] - cum[off[:-1]]) > 0
        else:
            row_has_null = np.zeros(n, dtype=bool)
        ids_np = ids.to_numpy(zero_copy_only=False)
        meta = None
        meta_np = None
        meta_valid = None
        if has_meta:
            meta = side_tbl.column("_pmeta")
            if isinstance(meta, pa.ChunkedArray):
                meta = meta.combine_chunks()
            meta_valid = ~np.asarray(meta.is_null())
            # Compare in the column's own type: with NULLs present,
            # to_numpy widens int64 to float64 and values >= 2^53 collide.
            # NULL slots take some valid value instead; meta_valid masks
            # them out of every match.
            filled = meta
            if meta.null_count and meta_valid.any():
                filled = meta.fill_null(meta.drop_null()[0])
            meta_np = filled.to_numpy(zero_copy_only=False)
        return {
            "arrow_ids": ids,
            "ids": ids_np,
            "valid": valid,
            "off": off,
            "lens": lens,
            "vals": vals,
            "row_has_null": row_has_null,
            "meta": meta,
            "meta_np": meta_np,
            "meta_valid": meta_valid,
            "n": n,
        }

    def _score_slice(q, c, lo, hi):
        """Full (mq × slice) cosine/null/drop matrices for corpus rows
        [lo, hi) — real cosines computed per matching vector length."""
        import numpy as np

        mq = q["n"]
        mc = hi - lo
        cos = np.zeros((mq, mc))
        isnull = np.ones((mq, mc), dtype=bool)
        c_lens = c["lens"][lo:hi]
        c_valid = c["valid"][lo:hi]
        c_clean = c_valid & ~c["row_has_null"][lo:hi]
        q_clean = q["valid"] & ~q["row_has_null"]
        for length in np.unique(q["lens"][q_clean]):
            qi = np.nonzero(q_clean & (q["lens"] == length))[0]
            ci = np.nonzero(c_clean & (c_lens == length))[0]
            if len(qi) == 0 or len(ci) == 0:
                continue
            d = int(length)
            qg = q["off"][:-1][qi][:, None] + np.arange(d)[None, :]
            cg = (c["off"][:-1][lo:hi][ci])[:, None] + np.arange(d)[None, :]
            Q = q["vals"][qg] if d else np.zeros((len(qi), 0))
            C = c["vals"][cg] if d else np.zeros((len(ci), 0))
            na = np.zeros(len(qi))
            nb = np.zeros(len(ci))
            acc = np.zeros((len(qi), len(ci)))
            for kk in range(d):
                na = na + Q[:, kk] * Q[:, kk]
                nb = nb + C[:, kk] * C[:, kk]
                acc = acc + Q[:, kk : kk + 1] * C[:, kk]
            na = np.sqrt(na)
            nb = np.sqrt(nb)
            with np.errstate(divide="ignore", invalid="ignore"):
                block = acc / (na[:, None] * nb[None, :])
            zero = (na[:, None] == 0) | (nb[None, :] == 0)
            cos[np.ix_(qi, ci)] = np.where(zero, 0.0, block)
            isnull[np.ix_(qi, ci)] = zero
        drop = q["ids"][:, None] == c["ids"][None, lo:hi]
        if has_meta:
            mv = (
                q["meta_valid"][:, None] & c["meta_valid"][None, lo:hi]
            )
            eq = np.zeros((mq, mc), dtype=bool)
            if mv.any():
                qm = q["meta_np"][:, None]
                cm = c["meta_np"][None, lo:hi]
                eq = qm == cm
                # Spark SQL equality treats NaN = NaN as TRUE (unlike
                # IEEE ==) — mirror it for floating metadata.
                if (
                    np.issubdtype(np.asarray(q["meta_np"]).dtype, np.floating)
                    and np.issubdtype(
                        np.asarray(c["meta_np"]).dtype, np.floating
                    )
                ):
                    eq |= np.isnan(qm) & np.isnan(cm)
            drop |= ~(mv & eq)
        return cos, isnull, drop

    def _order(cos_vals, null_flags, neighbor_ids):
        """Indices sorted by the final total order: rounded desc (NaN
        first, NULL last), neighbor id asc."""
        import numpy as np

        rounded = np.floor(cos_vals * 10000.0 + 0.5) / 10000.0
        nanc = np.where(np.isnan(rounded) & ~null_flags, 0, 1)
        negr = np.where(
            np.isnan(rounded) | null_flags, 0.0, -rounded
        )
        return np.lexsort(
            (neighbor_ids, negr, nanc, null_flags.astype(np.int8))
        )

    def score(tbl):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        id_type = tbl.schema.field("_pid").type
        meta_fields = [("_meta", tbl.schema.field("_pmeta").type)] if has_meta else []
        empty = pa.table(
            {
                "query_id": pa.array([], id_type),
                "neighbor_id": pa.array([], id_type),
                "cosine": pa.array([], pa.float64()),
                **{
                    name: pa.array([], typ) for name, typ in meta_fields
                },
            }
        )
        side = tbl.column("_pside")
        left = tbl.filter(pc.equal(side, 0))
        right = tbl.filter(pc.equal(side, 1))
        if left.num_rows == 0 or right.num_rows == 0:
            return empty
        q = _prep(left)
        c = _prep(right)
        chunk = 8192  # bounds the score matrix at mq × chunk doubles
        # per-query candidate accumulators across corpus slices
        cand_idx: list = [[] for _ in range(q["n"])]
        cand_cos: list = [[] for _ in range(q["n"])]
        cand_null: list = [[] for _ in range(q["n"])]
        for lo in range(0, c["n"], chunk):
            hi = min(lo + chunk, c["n"])
            cos, isnull, drop = _score_slice(q, c, lo, hi)
            keep = ~drop
            for qi in range(q["n"]):
                idxs = np.nonzero(keep[qi])[0]
                if len(idxs) == 0:
                    continue
                order = _order(
                    cos[qi, idxs], isnull[qi, idxs], c["ids"][lo:hi][idxs]
                )
                pick = idxs[order[:k]]
                cand_idx[qi].append(pick + lo)
                cand_cos[qi].append(cos[qi, pick])
                cand_null[qi].append(isnull[qi, pick])
        out_q: list = []
        out_c: list = []
        out_cos: list = []
        out_null: list = []
        for qi in range(q["n"]):
            if not cand_idx[qi]:
                continue
            gidx = np.concatenate(cand_idx[qi])
            gcos = np.concatenate(cand_cos[qi])
            gnull = np.concatenate(cand_null[qi])
            order = _order(gcos, gnull, c["ids"][gidx])[:k]
            out_q.append(np.full(len(order), qi, dtype=np.int64))
            out_c.append(gidx[order])
            out_cos.append(gcos[order])
            out_null.append(gnull[order])
        if not out_q:
            return empty
        qs = np.concatenate(out_q)
        cs = np.concatenate(out_c)
        cols = {
            "query_id": q["arrow_ids"].take(pa.array(qs)),
            "neighbor_id": c["arrow_ids"].take(pa.array(cs)),
            "cosine": pa.array(
                np.concatenate(out_cos), pa.float64(),
                mask=np.concatenate(out_null),
            ),
        }
        if has_meta:
            cols["_meta"] = c["meta"].take(pa.array(cs))
        return pa.table(cols)

    return score


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    match_on: str | None = None,
    blocks: int = 8,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank) — the
    blocked Arrow kernel form (round 12, guide §4.2/§2.3/§8).

    Semantics are IDENTICAL to the expression-form spec in
    tests/test_similarity_blocked.py (bit-identity gated there): same
    pairs, bit-identical cosine doubles, same ranking. The
    execution shape changes: instead of scoring |Q|×|C| pairs with
    interpreted zip_with/aggregate lambdas and shuffling every scored
    pair into the rank window, corpus rows hash into ``blocks``
    deterministic blocks (pmod(xxhash64(id), blocks) — guide §2.5),
    query rows replicate to every block, and a NumPy kernel scores each
    block's sub-matrix and emits only each query's LOCAL top-k candidate
    rows — ≤ |Q|·k·blocks skinny rows reach the final window instead of
    |Q|×|C| (§2.3 aggregate before you shuffle / §8 decide with small
    rows). The local cut uses the window's exact total order, so the
    global top-k is preserved row-for-row.

    NULL-id rows on either side never pair (the join predicate's NULL
    semantics) and are pre-filtered; everything else — NULL vectors,
    ragged lengths, NULL elements, zero norms, NULL metadata under
    ``match_on`` — reproduces the expression path inside the kernel
    (docstring of _topk_block_scorer).

    ``blocks`` scales the per-task sub-matrix (|Q| × |C|/blocks doubles,
    chunked at 8192 corpus rows); raise it with corpus size."""
    meta_q = [F.col(match_on).alias("_pmeta")] if match_on else []
    q_side = queries.where(F.col(id_col).isNotNull()).select(
        F.lit(0).alias("_pside"),
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("_blk"),
        F.col(id_col).alias("_pid"),
        F.col(vec_col).alias("_pvec"),
        *meta_q,
    )
    meta_c = [F.col(match_on).alias("_pmeta")] if match_on else []
    c_side = corpus.where(F.col(id_col).isNotNull()).select(
        F.lit(1).alias("_pside"),
        F.pmod(F.xxhash64(id_col), F.lit(blocks)).cast("int").alias("_blk"),
        F.col(id_col).alias("_pid"),
        F.col(vec_col).alias("_pvec"),
        *meta_c,
    )
    u = q_side.unionByName(c_side)
    id_type = u.schema["_pid"].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
    if match_on:
        meta_type = u.schema["_pmeta"].dataType.simpleString()
        out_schema += f", _meta {meta_type}"
    cand = u.groupBy("_blk").applyInArrow(
        _topk_block_scorer(k, has_meta=match_on is not None), out_schema
    )
    if match_on:
        cand = cand.withColumnRenamed("_meta", match_on)
    return _rank_topk(cand, k, extra_cols=[match_on] if match_on else None)


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
    identical). Every corpus vector is assigned to its best centroid once
    (broadcast of the tiny centroid set, max_by argmax — no shuffle of the
    corpus). Queries probe their ``n_probe`` closest centroids and join
    candidates on centroid_id: the scored set is |corpus| × n_probe /
    n_centroids in expectation, not the cross product.
    """
    # first n BY ID (not id < n, which yields zero centroids when ids
    # don't start at 0 — e.g. a decimated or re-keyed corpus).
    # asc_nulls_last: Spark ASC is NULLS FIRST, so a NULL-id corpus row
    # would otherwise become centroid #1 while a SQL oracle (DuckDB is
    # NULLS LAST in both directions) picks real ids first — the registry's
    # mechanical pk-variant rule applied to a LIMIT cutoff. The vector
    # itself is the secondary key so the cutoff is a UNIQUE total order
    # (registry LIMIT rule) even if a pathological corpus carries one id
    # with two different embeddings; array ordering is lexicographic in
    # both engines.
    cents = F.broadcast(
        corpus.orderBy(F.asc_nulls_last(id_col), F.asc(vec_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cent_vec"))
    )

    def assign(df: DataFrame, prefix: str, probes: int) -> DataFrame:
        scored = (
            with_vector_norm(df, vec_col)
            .select(
                F.col(id_col).alias(f"{prefix}_id"),
                F.col(vec_col).alias(f"{prefix}_vec"),
                F.col("norm").alias(f"{prefix}_norm"),
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
            # tie-break must MATCH the window path below (cscore desc,
            # centroid_id asc): max of (cscore, -id) picks the smallest id
            # on a score tie, so a corpus vector tied between cells lands
            # in the cell its identical query twin probes first.
            return scored.groupBy(f"{prefix}_id").agg(
                F.max_by(
                    "centroid_id",
                    F.struct(F.col("cscore"), (-F.col("centroid_id")).alias("nid")),
                ).alias("centroid_id"),
                F.first(f"{prefix}_vec").alias(f"{prefix}_vec"),
                F.first(f"{prefix}_norm").alias(f"{prefix}_norm"),
            )
        # asc_nulls_last (mechanical pk rule): a corpus with fewer than
        # n_centroids non-NULL ids can seat a NULL-id centroid, and Spark
        # ASC would order it FIRST where every SQL twin orders it last.
        w = Window.partitionBy(f"{prefix}_id").orderBy(
            F.desc("cscore"), F.asc_nulls_last("centroid_id")
        )
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= probes)
            .drop("_r", "cscore")
        )

    assigned = assign(corpus, "neighbor", 1)
    probed = assign(queries, "query", n_probe)
    scored = (
        probed.join(assigned, "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            _cosine_from_norms(
                F.col("query_vec"), F.col("neighbor_vec"),
                F.col("query_norm"), F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


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
    near-duplicates). Returns (id_a, id_b, cosine) with id_a < id_b.

    Same bucketed equi-join core as lsh_bucketed_topk: cost is
    Σ per-bucket collisions across tables, never the corpus cross
    product. Recall compounds with table count as 1-(1-p)^T; the
    (5 planes, 12 tables) default measures 0.83 recall at 500 vectors
    and 0.74 at 5000 on the synthetic near-orthogonal corpus at
    threshold 0.4 (tools-measured, round 7) — production corpora with
    true near-dups (cosine > 0.9) sit far above both."""
    pairs = _lsh_scored_pairs(
        corpus,
        id_col,
        vec_col,
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
    )
    # Threshold on the ROUNDED cosine (round-9 advice): comparing the raw
    # division-derived double against the threshold relied on bit-identical
    # summation across engines — a corpus value a few ULPs apart near the
    # threshold would split the edge SET, not just a display cell. The
    # rounded value is what both engines emit, so thresholding on it makes
    # the edge set engine-identical by construction (oracles use the same
    # floor-form on the same comparison).
    rounded = stable_round(F.col("cosine"), 4)
    return pairs.where(rounded >= threshold).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        rounded.alias("cosine"),
    )


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
    """
    scored = _lsh_scored_pairs(
        corpus,
        id_col,
        vec_col,
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        queries=queries,
    )
    return _rank_topk(scored, k)


def _lsh_bucketizer(
    vec_name: str,
    n_planes: int,
    n_tables: int,
    seed: int,
    dim: int | None,
):
    """mapInArrow kernel: append (table_id, bucket) to every input row,
    replicated once per table — NumPy replacement for the interpreted
    zip_with/aggregate bucket expression (the spec kept in
    tests/test_similarity_blocked.py) with identical bucket values (same seeded tensor, same per-dimension
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
            col = batch.column(vec_name)
            lens = np.full(n, -1, dtype=np.int64)
            valid = ~np.asarray(col.is_null())
            off = np.asarray(col.offsets)
            lens[valid] = (off[1:] - off[:-1])[valid]
            if dim is not None:
                d = dim
            else:
                cand = np.unique(lens[valid])
                if len(cand) > 1:
                    raise RuntimeError(
                        "_lsh_bucketizer: mixed vector lengths "
                        f"{cand.tolist()} reached the bucketizer — gate "
                        "the corpus (filter_modal_dim / size filter) first"
                    )
                d = int(cand[0]) if len(cand) else 0
            # gather from the RAW child array with absolute offsets —
            # flatten() drops null entries' slots and would misalign
            child = col.values
            vals = child.to_numpy(zero_copy_only=False)
            elem_null = (
                np.asarray(child.is_null())
                if child.null_count
                else np.zeros(len(vals), dtype=bool)
            )
            buckets = np.zeros((n, n_tables), dtype=np.int64)
            conform = valid & (lens == d)
            if d > 0 and conform.any():
                # gather conforming rows' values as an (m, d) matrix
                starts = off[:-1][conform]
                gather = starts[:, None] + np.arange(d)[None, :]
                V = vals[gather].astype(np.float64)
                has_null = (
                    elem_null[gather].any(axis=1)
                    if elem_null.any()
                    else np.zeros(V.shape[0], dtype=bool)
                )
                W = planes_for(d)
                acc = np.zeros((V.shape[0], n_tables * n_planes))
                for k in range(d):
                    acc = acc + V[:, k : k + 1] * W[:, k]
                bits = ~(acc <= 0)
                bits &= ~has_null[:, None]
                b = (
                    bits.reshape(-1, n_tables, n_planes).astype(np.int64)
                    << np.arange(n_planes, dtype=np.int64)[None, None, :]
                ).sum(axis=2)
                buckets[conform] = b
            idx = np.repeat(np.arange(n), n_tables)
            base = batch.drop_columns([vec_name]).take(pa.array(idx))
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


def _lsh_scored_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Shared LSH core: bucketize, equi-join on (table, bucket), dedupe
    candidate pairs, score cosine. ``queries=None`` self-joins the corpus
    (the dedup all-pairs shape). Returns (query_id, neighbor_id, cosine)
    unranked."""
    self_pairs = queries is None
    if queries is None:
        queries = corpus

    def bucketize(df: DataFrame, prefix: str) -> DataFrame:
        # Arrow bucketizer (round-11 optimization): the sign-pattern
        # buckets used to come from a SQL expression — n_tables × n_planes
        # interpreted zip_with/aggregate dots PER VECTOR (the HOF lambdas
        # are CodegenFallback; measured ~1.5 s per bucketized side at
        # sf0.1 for 12×5). The mapInArrow form hands whole batches to
        # NumPy with the identical per-dimension left-to-right IEEE
        # accumulation, so every dot's SIGN — and therefore every bucket
        # id — is unchanged; the hyperplane tensor is regenerated in-task
        # from the same seeded RandomState the SQL-literal oracles embed.
        # Output is (id, table_id, bucket) ONLY — the candidate join and
        # its dedupe shuffle ids, never vectors (guide §2.3/§8: decide
        # with small rows, attach the payload once afterwards).
        nv = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
        )
        id_type = nv.schema[f"{prefix}_id"].dataType.simpleString()
        return nv.mapInArrow(
            _lsh_bucketizer(
                f"{prefix}_vec", n_planes, n_tables, seed, dim=dim
            ),
            f"{prefix}_id {id_type}, table_id int, bucket bigint",
        )

    def attach(df: DataFrame, prefix: str) -> DataFrame:
        # One deterministic (vector, norm) per id for the re-attach join:
        # min-by-vector mirrors the min-per-id reduction the LSH oracles
        # already pin (an id duplicated by a regeneration re-attaches ONE
        # vector, exactly like the old carry-through-dedupe plan kept one
        # arbitrary — here deterministic — pair row).
        one = df.groupBy(F.col(id_col).alias(f"{prefix}_id")).agg(
            F.min(vec_col).alias(f"{prefix}_vec")
        )
        return one.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            l2_norm(f"{prefix}_vec").alias(f"{prefix}_norm"),
        )

    q = bucketize(queries, "query")
    c = bucketize(corpus, "neighbor")
    # Self-join (dedup) mode: keep only the ordered half of each pair
    # BEFORE the dedupe shuffle and the cosine dot — halves both, and the
    # unordered pair is what a dedup stage consumes anyway.
    pair_filter = (
        F.col("query_id") < F.col("neighbor_id")
        if self_pairs
        else F.col("query_id") != F.col("neighbor_id")
    )
    cand = (
        q.join(c, ["table_id", "bucket"])
        .where(pair_filter)
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.join(attach(queries, "query"), "query_id").join(
        attach(corpus, "neighbor"), "neighbor_id"
    )
    return scored.select(
        "query_id",
        "neighbor_id",
        _cosine_from_norms(
            F.col("query_vec"), F.col("neighbor_vec"), F.col("query_norm"), F.col("neighbor_norm")
        ).alias("cosine"),
    )


# ---------------------------------------------------------------------------
# Blocked exact all-pairs cosine (the verification-harness shape, vectorized)
# ---------------------------------------------------------------------------
#
# The exact all-pairs ground truth (q_dedup_embedding_bound and friends) is
# quadratic BY DESIGN — but expressing the per-pair cosine as
# zip_with + aggregate higher-order functions evaluates interpreted
# per-element lambdas on every one of the N²/2 pairs (measured 35 s at
# sf0.1 for 4M pairs). The blocked form instead ships each hash block's
# (id, vector) matrix ONCE per block pair through Arrow and hands whole
# blocks to NumPy (optimization guide §4.2 "do the heavy lifting in native
# code" + §8 "move big rows once"): the dot products accumulate dimension
# by dimension in the SAME left-to-right IEEE-754 order as the JVM fold,
# so every emitted double is bit-identical to the higher-order-function
# path (gated by tests/test_similarity_blocked.py; a 4M-pair live compare
# measured 0 bit diffs).
#
# NaN/NULL parity notes (each mirrors the JVM path's behavior exactly):
# * NULL vector elements arrive as NaN (Arrow null → NaN for float
#   to_numpy) → dot/norm NaN → the rounded-threshold compare is false →
#   pair excluded; Spark's NULL propagation excludes the same pairs.
# * Zero/NaN norms: the mask is ~(norm <= 0), which keeps NaN like
#   Spark's (norm > 0) does (Spark treats NaN as greater than any
#   double); such pairs then drop at the threshold on both paths.
# * The threshold compares floor(c*1e4 + 0.5)/1e4 — the stable_round op
#   sequence — so the surviving edge set is the one both engines emit.


def _arrow_block_matrix(tbl, id_name: str, vec_name: str):
    """(int64 ids, float64 matrix) from an Arrow cogroup table whose
    ``vec_name`` column is a list<float|double> of uniform length."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = tbl.column(id_name).to_numpy(zero_copy_only=False).astype(np.int64)
    col = tbl.column(vec_name)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    lens = np.asarray(lens, dtype="float64")
    if len(lens) and (np.isnan(lens).any() or (lens != lens[0]).any()):
        raise RuntimeError(
            "blocked_cosine_pairs: ragged or NULL vectors reached the "
            "scorer — gate the corpus with filter_modal_dim first"
        )
    d = int(lens[0]) if len(lens) else 0
    vals = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return ids, vals.reshape(len(ids), d)


def _blocked_pair_scorer(threshold: float):
    """Score one (block_i, block_j) pair: every cross pair's cosine via
    per-dimension accumulation (bit-identical to the JVM fold), keep
    id_a < id_b above the stable-rounded threshold."""

    def score(tbl):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        empty = pa.table(
            {
                "id_a": pa.array([], pa.int64()),
                "id_b": pa.array([], pa.int64()),
                "cosine": pa.array([], pa.float64()),
            }
        )
        side = tbl.column("_pside")
        left = tbl.filter(pc.equal(side, 0))
        right = tbl.filter(pc.equal(side, 1))
        if left.num_rows == 0 or right.num_rows == 0:
            return empty
        # Diagonal groups hold the same block on both sides: the id_a <
        # id_b mask enumerates each unordered pair once. Off-diagonal
        # groups hold DISJOINT blocks (ids can never repeat across blocks
        # — the block is a function of the id), so every cross pair is
        # kept and emitted with its ids ordered.
        diagonal = tbl.column("_bi")[0].as_py() == tbl.column("_bj")[0].as_py()
        ia, A = _arrow_block_matrix(left, "_pid", "_pvec")
        ib, B = _arrow_block_matrix(right, "_pid", "_pvec")
        if A.shape[1] != B.shape[1]:
            raise RuntimeError(
                "blocked_cosine_pairs: dimension mismatch across blocks — "
                f"{A.shape[1]} vs {B.shape[1]}; gate with filter_modal_dim"
            )
        d = A.shape[1]
        nb = np.zeros(len(B))
        for k in range(d):
            nb = nb + B[:, k] * B[:, k]
        nb = np.sqrt(nb)
        out_a: list = []
        out_b: list = []
        out_c: list = []
        chunk = 2048  # bounds the cosine matrix at chunk × |B| doubles
        for s in range(0, len(A), chunk):
            Ac, iac = A[s : s + chunk], ia[s : s + chunk]
            na = np.zeros(len(Ac))
            for k in range(d):
                na = na + Ac[:, k] * Ac[:, k]
            na = np.sqrt(na)
            acc = np.zeros((len(Ac), len(B)))
            for k in range(d):
                acc = acc + Ac[:, k : k + 1] * B[:, k]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (na[:, None] * nb[None, :])
                rounded = np.floor(cos * 10000.0 + 0.5) / 10000.0
            keep = ~(na[:, None] <= 0) & ~(nb[None, :] <= 0) & (rounded >= threshold)
            if diagonal:
                keep &= iac[:, None] < ib[None, :]
            r, c = np.nonzero(keep)
            pa_ids, pb_ids = iac[r], ib[c]
            if not diagonal:
                lo = np.minimum(pa_ids, pb_ids)
                hi = np.maximum(pa_ids, pb_ids)
                pa_ids, pb_ids = lo, hi
            out_a.append(pa_ids)
            out_b.append(pb_ids)
            out_c.append(cos[r, c])
        return pa.table(
            {
                "id_a": pa.array(np.concatenate(out_a), pa.int64()),
                "id_b": pa.array(np.concatenate(out_b), pa.int64()),
                "cosine": pa.array(np.concatenate(out_c), pa.float64()),
            }
        )

    return score


def blocked_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
) -> DataFrame:
    """All unordered pairs (id_a < id_b, both norms > 0) whose
    stable_round(cosine, 4) >= threshold, over a modal-dim-gated corpus —
    the EXACT ground-truth primitive, blocked: vectors hash into ``blocks``
    deterministic blocks (pmod(xxhash64(id), blocks) — guide §2.5's
    deterministic synthetic key), each unordered block pair cogroups into
    one task, and NumPy scores the whole sub-matrix. Shuffle volume is
    O(N·blocks) vector rows; compute is the same N²/2 cosines the
    semantics demand, vectorized. Emitted ``cosine`` is the RAW double —
    bit-identical to the zip_with/aggregate fold — so callers apply
    stable_round exactly as before.

    NULL ids never pair (the JVM path's id_a < id_b drops them); rows are
    filtered here so block assignment is total. ``blocks`` scales the
    per-task matrix (N/blocks)² — raise it with corpus size; the bench
    harness corpora fit the default."""
    em = corpus.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_pid"), F.col(vec_col).alias("_pvec")
    )
    block = F.pmod(F.xxhash64("_pid"), F.lit(blocks)).cast("int")
    # Both replica streams ride ONE grouped frame with a side tag (a
    # cogroup of two frames derived from the same corpus trips the
    # ambiguous-self-join check); the scorer splits the group by side.
    side_a = em.select(
        F.lit(0).alias("_pside"),
        block.alias("_bi"),
        F.explode(F.sequence(block, F.lit(blocks - 1))).alias("_bj"),
        "_pid",
        "_pvec",
    )
    side_b = em.select(
        F.lit(1).alias("_pside"),
        F.explode(F.sequence(F.lit(0), block)).alias("_bi"),
        block.alias("_bj"),
        "_pid",
        "_pvec",
    )
    return (
        side_a.unionByName(side_b)
        .groupBy("_bi", "_bj")
        .applyInArrow(
            _blocked_pair_scorer(threshold),
            "id_a long, id_b long, cosine double",
        )
    )
