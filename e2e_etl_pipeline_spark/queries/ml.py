"""Vector/ML primitives over the embeddings table: class centroids
(mean-pooling) and one exact k-means Lloyd iteration.

These generalize the B.8 similarity seeds into the two aggregate shapes a
vector pipeline needs beyond search: supervised class prototypes (centroid
tables feed nearest-class-mean classifiers and drift monitors) and the
assign-then-recompute step every clustering/IVF-training loop runs. The
reference has no vector surface; both keys are fully oracle-checked
(DuckDB list lambdas ≡ Spark higher-order functions, the parity
q_similarity_topk established).

Scale: centroids/means shuffle (key, dim, value) triples after per-row
posexplode — k·d cells per partition post-combine, never raw vectors; the
Lloyd assignment broadcasts the k seed centroids against the corpus scan
(k ≪ |corpus|), exactly how IVF coarse quantizers are trained
(operators/similarity.ivf_topk consumes such centroids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions.vectors import sq_dist, sq_dist_sql
from e2e_etl_pipeline_spark.operators import similarity as sim
from e2e_etl_pipeline_spark.registry import register

K_SEEDS = 8

# The seed-assignment CTEs over a relation named ``emb`` (vec_id,
# embedding): the first K_SEEDS vectors by id are the seeds, and each
# vector takes its nearest (squared L2, seed-id tiebreak) — the SQL twin
# of assign_to_seeds, shared by q_kmeans_step and the SemDeDup chain.
SEED_ASSIGN_SQL = f"""seeds AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM emb WHERE vec_id < {K_SEEDS}
    ),
    dists AS (
      SELECT e.vec_id, s.cid,
             {sq_dist_sql("e.embedding", "s.cv")} AS sq
      FROM emb e CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id, cid
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sq NULLS LAST, cid) AS rn
            FROM dists)
      WHERE rn = 1
    )"""


def assign_to_seeds(em: DataFrame) -> DataFrame:
    """(vec_id, cid): each vector of ``em`` (vec_id, embedding) with its
    nearest seed, the seeds being the first K_SEEDS vectors by id —
    SEED_ASSIGN_SQL's twin. The k seed rows broadcast against the corpus
    (no corpus shuffle for assignment). NULLS LAST pins a NULL distance
    to the oracle's order."""
    seeds = em.where(F.col("vec_id") < K_SEEDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    dists = em.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "cid", sq_dist("embedding", "cv").alias("sq")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc_nulls_last("sq"), "cid")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cid")
    )


@register(
    "q_embedding_centroids",
    oracle="""
    SELECT label,
           CAST(dim AS BIGINT)                  AS dim,
           round(avg(CAST(v AS DOUBLE)), 6)     AS centroid
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding)                 AS v
      FROM embeddings
    )
    GROUP BY label, dim
    """,
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class prototypes): mean-pool every
    dimension within a label. posexplode is 0-based, DuckDB subscripts
    1-based — aligned with pos+1."""
    em = load_table(spark, sf_dir, "embeddings")
    cells = em.select("label", F.posexplode("embedding").alias("pos", "v"))
    return cells.groupBy(
        "label", (F.col("pos") + 1).cast("bigint").alias("dim")
    ).agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))


@register(
    "q_kmeans_step",
    oracle=f"""
    WITH __dim AS ({sim.MODAL_DIM_SQL}),
    emb AS (
      -- modal-dimension gate (ragged fuzz variant contract): a
      -- length-mismatched vector must be EXCLUDED on both engines, not
      -- zip-diverge (DuckDB list_sum skips NULL terms, Spark zip_with
      -- NULL-propagates)
      SELECT vec_id, embedding FROM embeddings
      WHERE len(embedding) = (SELECT d FROM __dim)
    ),
    {SEED_ASSIGN_SQL},
    members AS (SELECT cid, count(*) AS n_members FROM assigned GROUP BY cid),
    cells AS (
      SELECT a.cid,
             generate_subscripts(e.embedding, 1) AS dim,
             unnest(e.embedding)                 AS v
      FROM assigned a JOIN emb e USING (vec_id)
    )
    SELECT c.cid                                AS cluster_id,
           CAST(c.dim AS BIGINT)                AS dim,
           round(avg(CAST(c.v AS DOUBLE)), 6)   AS centroid,
           any_value(m.n_members)               AS n_members
    FROM cells c JOIN members m USING (cid)
    GROUP BY c.cid, c.dim
    """,
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration with the first K_SEEDS vectors as seed
    centroids: assign every vector to its nearest centroid (squared L2,
    centroid-id tiebreak), then recompute per-cluster means and sizes.

    Scale: the k×corpus distance evaluation broadcasts k centroid rows —
    no corpus shuffle for assignment; the mean-recompute shuffles k·d
    (cluster, dim, partial-sum) cells after map-side combine. Iterating
    this to convergence is the same loop with the output fed back as
    ``seeds`` (and a localCheckpoint per round, the q_pagerank pattern).
    Modal-dimension gate on both sides (similarity.filter_modal_dim):
    ragged vectors are excluded, not silently zip-diverged."""
    em = sim.filter_modal_dim(load_table(spark, sf_dir, "embeddings"))
    assigned = assign_to_seeds(em)
    members = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    cells = assigned.join(em, "vec_id").select(
        "cid", F.posexplode("embedding").alias("pos", "v")
    )
    return (
        cells.groupBy(F.col("cid"), (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
        .join(F.broadcast(members), "cid")
        .select(
            F.col("cid").alias("cluster_id"), "dim", "centroid", "n_members"
        )
    )


@register(
    "q_regression_ols",
    oracle="""
    WITH s AS (
      SELECT
        l_returnflag,
        count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sx,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sxx,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT
      l_returnflag,
      n,
      -- nullif divisors: a single-row or zero-variance group has
      -- nSxx - Sx^2 = 0 exactly; ANSI Spark raises DIVIDE_BY_ZERO even
      -- for doubles (try_divide on the engine side), so the undefined
      -- fit must be NULL in both dialects (q_abtest/q_autocorr rule).
      round((CAST(n AS DOUBLE) * sxy - sx * sy)
            / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0), 4) AS slope,
      round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                   / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)) * sx)
            / CAST(n AS DOUBLE), 4) AS intercept,
      round(((CAST(n AS DOUBLE) * sxy - sx * sy)
             * (CAST(n AS DOUBLE) * sxy - sx * sy))
            / nullif((CAST(n AS DOUBLE) * sxx - sx * sx)
                     * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0), 4) AS r2
    FROM s
    """,
)
def q_regression_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit (price ~ quantity) from
    sufficient statistics: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²),
    intercept from the means, r² = corr².

    Hash-stability design (replaces the earlier covar_pop/regr_* pairing):
    double-precision covar/var/corr accumulate in engine-specific order, so
    a value landing on a .00005 rounding boundary could flip the 4th digit
    between Spark and DuckDB. Instead BOTH engines sum the five sufficient
    statistics (Σx, Σy, Σxy, Σx², Σy²) as exact DECIMALs — associative,
    order-independent, bit-identical — cast those exact sums to DOUBLE, and
    evaluate the identical closed-form expression; IEEE division/multiply
    on identical inputs is deterministic, so the rounded outputs match
    bit-for-bit regardless of row order or partitioning.

    Scale story: OLS over any corpus size is ONE map-side-combinable
    aggregation — the sufficient statistics fold per-partition and merge
    associatively — so a 100 TB regression is a single partial+final agg
    with a |groups|-row shuffle. No gradient loop, no driver math, no
    second pass. (The iterative counterpart for non-closed-form models is
    q_kmeans_step's broadcast-assign/partial-update shape.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    xd = F.col("l_quantity").cast("decimal(12,2)")
    yd = F.col("l_extendedprice").cast("decimal(18,2)")
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx_d"),
        F.sum(yd).alias("sy_d"),
        F.sum(xd * yd).alias("sxy_d"),
        F.sum(xd * xd).alias("sxx_d"),
        F.sum(yd * yd).alias("syy_d"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx_d").cast("double")
    sy = F.col("sy_d").cast("double")
    sxy = F.col("sxy_d").cast("double")
    sxx = F.col("sxx_d").cast("double")
    syy = F.col("syy_d").cast("double")
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    # try_divide: a single-row group (n=1 -> denx = sxx - sx^2 = 0) or a
    # zero-variance group makes the fit undefined — NULL on both engines,
    # never an ANSI DIVIDE_BY_ZERO crash (q_abtest/q_autocorr rule; a
    # regenerated corpus with a rare 1-row returnflag would hit this).
    slope = F.try_divide(num, denx)
    return stats.select(
        "l_returnflag",
        "n",
        F.round(slope, 4).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
        F.round(F.try_divide(num * num, denx * deny), 4).alias("r2"),
    )


@register(
    "q_linear_score",
    oracle="""
    SELECT vec_id,
           round(list_sum(list_transform(range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE)
                      * (CAST((i * 2654435761) % 1000 AS DOUBLE)
                         / 1000.0 - 0.5))), 4) AS score,
           list_sum(list_transform(range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE)
                      * (CAST((i * 2654435761) % 1000 AS DOUBLE)
                         / 1000.0 - 0.5))) > 0.0 AS keep
    FROM embeddings
    """,
)
def q_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply-a-trained-classifier scoring: a linear model whose weights
    derive deterministically from the dimension index — the stand-in for
    fasttext-style quality-filter weights, which would ship as a broadcast
    literal array exactly like this — dotted against every embedding, with
    a keep/cull decision on the raw margin. No transcendentals (a sigmoid
    would rank identically; exp() is not correctly-rounded across libms,
    the dot product is IEEE-exact in list order on both engines — same
    contract as q_similarity_topk).

    The weight vector's length derives from size(embedding) PER ROW on
    both sides (round-4 ADVICE): a hard-coded 64 would NULL-pad Spark's
    zip_with if a regenerated corpus changed dimensionality while DuckDB's
    list_sum skipped the missing tail — a silent cross-engine divergence
    instead of parity.

    Scale: stateless per-row fold over the vector column, weights are a
    scan-stage expression — zero shuffle, scales linearly with the scan."""
    em = load_table(spark, sf_dir, "embeddings")
    w = (
        "transform(sequence(1, size(embedding)),"
        " i -> CAST((i * 2654435761L) % 1000 AS DOUBLE) / 1000.0 - 0.5)"
    )
    dot = F.expr(
        "aggregate(zip_with(embedding, " + w + ","
        " (x, wi) -> CAST(x AS DOUBLE) * wi), 0.0D, (acc, v) -> acc + v)"
    )
    return em.select(
        "vec_id",
        F.round(dot, 4).alias("score"),
        (dot > 0.0).alias("keep"),
    )
