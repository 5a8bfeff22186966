"""Corpus-curation composites: dedup cluster assignment (connected
components), SemDeDup-style within-cluster embedding pruning, a
readability score, and the embedding-aware curation capstone
(quality → exact dedup → semantic dedup funnel) — the last-mile
operators a training-data curation pipeline runs AFTER the pairwise
dedup/similarity stages produced their pair sets (queries/llm.py) and
the k-means machinery produced clusters (queries/ml.py).

The reference has no corpus surface; these generalize SURVEY.md §2's B.8
dedup family the same way queries/corpus.py does. All keys are fully
oracle-checked — including the iterative connected-components pass, which
DuckDB replays as a recursive CTE (the q_pagerank precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions import textstats as ts
from e2e_etl_pipeline_spark.functions.rounding import stable_round, stable_round_sql
from e2e_etl_pipeline_spark.functions.vectors import cosine_sql, l2_norm_sql
from e2e_etl_pipeline_spark.operators import dedup as dd
from e2e_etl_pipeline_spark.operators import similarity as sim
from e2e_etl_pipeline_spark.operators.ranks import distributed_rank
from e2e_etl_pipeline_spark.queries.llm import JACCARD_PAIRS_CTE, word_jaccard_pairs
from e2e_etl_pipeline_spark.queries.ml import SEED_ASSIGN_SQL, assign_to_seeds
from e2e_etl_pipeline_spark.registry import register


@register(
    "q_dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE
    {JACCARD_PAIRS_CTE},
    nodes AS (
      SELECT DISTINCT doc_id AS node FROM documents
      WHERE lang = 'de' AND doc_id IS NOT NULL
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node)
    SELECT component_id,
           CAST(count(*) AS BIGINT)                       AS n_members,
           array_to_string(list_sort(list(node)), ',')    AS member_ids
    FROM comp GROUP BY component_id
    """,
)
def q_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTER ASSIGNMENT: connected components over the exact
    token-Jaccard >= 0.5 pair graph (the q_dedup_jaccard edge set, 'de'
    slice), labeling every document with min(doc_id) of its component —
    the survivor the keep-lowest-id dedup policy retains. Pairwise keys
    (q_dedup_jaccard / q_dedup_near) emit EDGES; a pipeline needs the
    transitive closure to drop n-1 of an n-way duplicate ring even when
    not all C(n,2) pairs cleared the threshold. Singleton documents are
    their own component, so the output is a full partition of the slice.

    Spark side: operators/dedup.connected_components — alternating
    large-star / small-star rounds (Kiveris et al., "Connected Components
    in MapReduce and Beyond", public) to the star fixpoint, with
    per-round localCheckpoint lineage truncation, an exact edge-set
    convergence probe (count + anti-join) as the only per-round driver
    action, and a hard non-convergence raise (the q_pagerank loop
    discipline). Documents outside every pair (no edge at all) join back
    in as singletons afterwards. DuckDB replays the fixpoint as a
    recursive CTE (min over the transitive closure — same answer,
    engine-independent).

    Scale: each round shuffles the edge list a constant number of times
    (one groupBy+join per star phase) and converges in O(log n) rounds on
    ANY diameter — dup clusters are shallow near-cliques (2-3 rounds),
    and a 100 TB corpus with long duplication chains costs log-many
    rounds instead of the O(diameter) the pre-round-11 min-label
    propagation needed (tests assert ≤ 2·log2(n) on a 100-node path)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("lang") == "de")
    pairs = word_jaccard_pairs(d).select("id_a", "id_b")
    # max_iters bounds the rounds at ~the graph diameter; dup clusters are
    # near-cliques (2-3 rounds), but a mutated/regenerated corpus could
    # plant a longer path — 64 rounds of headroom costs nothing when
    # convergence is early (the loop exits on the first no-change round).
    comp = dd.connected_components(pairs, max_iters=64)
    # DISTINCT + NOT NULL pin the node-set contract: a NULL doc_id cannot
    # participate in identity-keyed dedup (and the oracle's recursive
    # UNION would dedup (NULL, NULL) reach rows while Spark counted every
    # input row), and duplicate doc_id rows must be ONE node on both
    # sides (round-7 review).
    nodes = (
        d.where(F.col("doc_id").isNotNull())
        .select(F.col("doc_id").alias("node"))
        .distinct()
    )
    labeled = nodes.join(comp, nodes["node"] == comp["id"], "left").select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("comp")
    )
    return (
        labeled.groupBy("comp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("member_ids"),
        )
        .select(
            F.col("comp").alias("component_id"), "n_members", "member_ids"
        )
    )


SEMDEDUP_TAU = 0.4  # near-orthogonal synthetic corpus: same τ as q_dedup_embedding


# The SemDeDup oracle chain (cleaned corpus → deterministic seed
# assignment → within-cluster above-τ victims), shared by
# q_semdedup_prune and the curation capstone — one definition, every
# consumer (the JACCARD_PAIRS_CTE discipline).
SEMDEDUP_CTE = f"""emb0 AS (
      -- NULL-element guard: Spark's zip_with/aggregate NULL-propagates
      -- while DuckDB's list_sum NULL-skips, so a vector containing a
      -- NULL element would get a NULL distance in one engine and a
      -- partial sum in the other — exclude them from the contract on
      -- BOTH sides (round-7 review).
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ),
    dim AS (
      -- Modal dimension (ties → smaller), pinned IN the contract: a
      -- ragged-length vector would otherwise split the engines silently
      -- (DuckDB list_sum skips the out-of-range NULL terms giving a
      -- partial distance; Spark zip_with NULL-propagates) — round-7
      -- advice. Off-dimension vectors are excluded on BOTH sides.
      {sim.modal_dim_sql("emb0")}
    ),
    emb AS (
      SELECT vec_id, embedding FROM emb0, dim WHERE len(embedding) = dim.d
    ),
    {SEED_ASSIGN_SQL},
    v AS (
      SELECT a.cid, e.vec_id, e.embedding, {l2_norm_sql("e.embedding")} AS nrm
      FROM assigned a JOIN emb e USING (vec_id)
    ),
    dropped AS (
      SELECT DISTINCT a.cid, b.vec_id AS victim
      FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
        AND {stable_round_sql(
            cosine_sql("a.embedding", "b.embedding", "a.nrm", "b.nrm"), 4
        )} >= {SEMDEDUP_TAU}
    )"""


def _semdedup_v_and_victims(spark: SparkSession, sf_dir: str):
    """Spark twin of SEMDEDUP_CTE: (v, victim_pairs) — the cleaned
    cluster-assigned corpus (cid, vec_id, embedding; persisted for its
    several consumers) and the distinct (cid, victim) above-τ pairs."""
    # NULL-element guard mirroring the oracle's emb0 CTE (zip_with
    # NULL-propagates vs list_sum NULL-skips — round-7 review), then the
    # shared modal-dimension gate mirroring the dim CTE (round-7 advice:
    # ragged lengths previously diverged silently instead of failing
    # loudly). The modal is computed over em0 — the same population as the
    # oracle's histogram.
    em0 = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    em = sim.filter_modal_dim(em0).select("vec_id", "embedding")
    # One corpus-sized relation feeds multiple consumers (both kernel
    # sides and the per-cluster totals); uncached, Spark re-runs the
    # k×corpus assignment subtree per consumer (an A/B measured the plain
    # plan ~2× slower). persist(), not localCheckpoint: under AQE even a
    # LAZY checkpoint materializes the upstream stages at .rdd-conversion
    # time (round-8 find — construction triggered 5 jobs), while persist()
    # builds the same materialize-once InMemoryRelation with zero
    # construction jobs. v is deterministic under any partitioning (no
    # sampled boundaries), so cache-recompute divergence — the one hazard
    # checkpointing guards that persist doesn't — cannot occur here.
    v = (
        assign_to_seeds(em)
        .join(em, "vec_id")
        .select("cid", "vec_id", "embedding")
        .persist()
    )
    # Each cluster is one kernel group; the victim's cid is its group's,
    # carried through the kernel rather than joined back by id.
    victim_pairs = (
        sim.grouped_cosine_pairs(v, F.col("cid"), SEMDEDUP_TAU, meta_col="cid")
        .select("cid", F.col("id_b").alias("victim"))
        .distinct()
    )
    return v, victim_pairs


@register(
    "q_semdedup_prune",
    oracle=f"""
    WITH {SEMDEDUP_CTE},
    per_cluster AS (
      SELECT cid, count(*) AS n_dropped FROM dropped GROUP BY cid
    )
    SELECT t.cid                                          AS cluster_id,
           CAST(count(*) AS BIGINT)                       AS n_total,
           CAST(coalesce(any_value(p.n_dropped), 0) AS BIGINT) AS n_dropped,
           CAST(count(*) - coalesce(any_value(p.n_dropped), 0) AS BIGINT)
                                                          AS n_kept
    FROM v t LEFT JOIN per_cluster p ON p.cid = t.cid
    GROUP BY t.cid
    """,
)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, public): cluster
    embeddings (here: one deterministic assignment step against the first
    K_SEEDS vectors as centroids — the q_kmeans_step seeding, so the
    oracle can replay it), then WITHIN each cluster drop every vector
    whose cosine to a LOWER-vec_id cluster-mate reaches τ; report
    per-cluster totals. The clustering is what makes semantic dedup
    sub-quadratic: pairs are only scored inside a cluster, never across.

    Cross-engine exactness: cosines compare on the stable-rounded (4dp)
    value with identical left-to-right summation order in both engines
    (functions/rounding.py); zero-norm vectors never match anything
    (the kernel's NULL cosine drops them); counts are integers.

    Scale: the k-centroid assignment broadcasts K rows (no corpus
    shuffle); each cluster is one grouped_cosine_pairs group, so the pair
    stage shuffles each vector twice (once per kernel side) on cluster id
    and scores the cluster as one NumPy block. Cluster population is
    corpus/K — in production K scales with the corpus (SemDeDup uses
    ~10^5 clusters for 10^9 docs) keeping per-cluster pair counts
    bounded; the pairwise stage inside a cluster is then Σ|C|², not
    |corpus|²."""
    v, victim_pairs = _semdedup_v_and_victims(spark, sf_dir)
    dropped = victim_pairs.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_dropped")
    )
    z = F.lit(0).cast("long")
    n_dropped = F.coalesce(F.col("n_dropped"), z)
    return (
        v.groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        .join(dropped, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_total",
            n_dropped.cast("long").alias("n_dropped"),
            (F.col("n_total") - n_dropped).cast("long").alias("n_kept"),
        )
    )


@register(
    "q_text_readability",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             {ts.words_sql("coalesce(text, '')")} AS ws,
             len(regexp_extract_all(coalesce(text, ''), '[.!?]+'))
               AS n_sentences_raw
      FROM documents
    ),
    counted AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(n_sentences_raw AS BIGINT) AS n_sentences,
             CAST(coalesce(list_sum(list_transform(ws,
               w -> greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')),
                             1))), 0) AS BIGINT) AS n_syllables
      FROM base
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           {stable_round_sql(
               "206.835"
               " - 1.015 * (CAST(n_words AS DOUBLE)"
               "            / CAST(greatest(n_sentences, 1) AS DOUBLE))"
               " - 84.6 * (CAST(n_syllables AS DOUBLE)"
               "           / CAST(nullif(n_words, 0) AS DOUBLE))", 4
           )} AS flesch,
           CASE WHEN n_words = 0 THEN 'empty'
                WHEN {stable_round_sql(
                    "206.835"
                    " - 1.015 * (CAST(n_words AS DOUBLE)"
                    "            / CAST(greatest(n_sentences, 1) AS DOUBLE))"
                    " - 84.6 * (CAST(n_syllables AS DOUBLE)"
                    "           / CAST(nullif(n_words, 0) AS DOUBLE))", 4
                )} >= 60.0 THEN 'easy'
                WHEN {stable_round_sql(
                    "206.835"
                    " - 1.015 * (CAST(n_words AS DOUBLE)"
                    "            / CAST(greatest(n_sentences, 1) AS DOUBLE))"
                    " - 84.6 * (CAST(n_syllables AS DOUBLE)"
                    "           / CAST(nullif(n_words, 0) AS DOUBLE))", 4
                )} >= 30.0 THEN 'medium'
                ELSE 'hard' END AS band
    FROM counted
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a deterministic ASCII
    vowel-group syllable heuristic (vowel runs [aeiouy]+ per lowercased
    word, min 1/word) and sentence count = runs of [.!?]+ — the
    readability axis of a quality-scoring stage (complements
    q_text_quality's length/punct ratios and q_quality_gopher's rules).
    Zero-word documents report NULL flesch and band 'empty'; zero
    detected sentences clamp to 1 so one-liner documents score rather
    than divide by zero.

    Cross-engine exactness: counts are integers; the score divides the
    SAME integers in the same expression shape in both engines then
    stable-rounds to 4dp, and the band thresholds compare that rounded
    double — no engine-specific rounding anywhere.

    Scale: pure per-row column expressions inside the scan stage
    (higher-order functions, no UDF, no shuffle) — the plan is a single
    WholeStageCodegen projection at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    ws = ts.words(txt)
    syl_per_word = F.transform(
        ws,
        lambda w: F.greatest(
            F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), F.lit(0))),
            F.lit(1),
        ).cast("long"),
    )
    counted = d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(txt, F.lit("[.!?]+"), F.lit(0)))
        .cast("long")
        .alias("n_sentences"),
        F.aggregate(
            syl_per_word, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("n_syllables"),
    )
    flesch = stable_round(
        F.lit(206.835)
        - F.lit(1.015)
        * (
            F.col("n_words").cast("double")
            / F.greatest(F.col("n_sentences"), F.lit(1)).cast("double")
        )
        - F.lit(84.6)
        * (
            F.col("n_syllables").cast("double")
            / F.nullif(F.col("n_words"), F.lit(0)).cast("double")
        ),
        4,
    )
    return counted.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        flesch.alias("flesch"),
        F.when(F.col("n_words") == 0, F.lit("empty"))
        .when(flesch >= 60.0, F.lit("easy"))
        .when(flesch >= 30.0, F.lit("medium"))
        .otherwise(F.lit("hard"))
        .alias("band"),
    )


@register(
    "q_curation_pipeline",
    oracle=f"""
    WITH {SEMDEDUP_CTE},
    victims AS (SELECT DISTINCT victim FROM dropped),
    base AS (
      SELECT doc_id, source, text,
             (len({ts.words_sql("coalesce(text, '')")}) >= 10
              AND coalesce(n_chars, 0) >= 50) AS is_q
      FROM documents
    ),
    surv AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY text
                                  ORDER BY doc_id NULLS LAST) AS rn
        FROM base WHERE is_q
      ) WHERE rn = 1
    )
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN b.is_q THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality,
           CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN s.doc_id IS NOT NULL AND v.victim IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_final
    FROM base b
    LEFT JOIN surv s ON s.doc_id = b.doc_id
    LEFT JOIN victims v ON v.victim = b.doc_id
    GROUP BY b.source
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-aware curation capstone (the semantic sibling of
    q_training_pipeline): quality gate (>= 10 words and >= 50 chars) →
    exact dedup (keep the lowest doc_id per text group AMONG quality
    survivors) → semantic dedup (drop docs whose embedding — joined on
    doc_id = vec_id, a partial mapping: unembedded docs simply carry no
    semantic signal — is a SemDeDup victim), reported as a per-source
    funnel (n_docs → n_quality → n_exact → n_final), the table a curation
    run publishes as its acceptance evidence. ONE composed Catalyst plan:
    the three stages share the document scan, and each count is a
    conditional aggregate over stage flags rather than three re-scans.

    Cross-engine exactness: the exact-dedup survivor rank pins
    ORDER BY doc_id NULLS LAST (a NULL-id doc in a dup group must not
    steal rank 1 in one engine only); quality flags are never NULL
    (coalesced inputs); the engine groups on xxhash64(text) where the
    oracle groups on text — identical short of a 64-bit collision (the
    q_dup_cluster_sizes bound).

    Scale: quality is scan-stage math; exact dedup shuffles the 8-byte
    digest; the semantic stage is the SemDeDup cluster-grouped kernel
    (Σ|cluster|², never corpus²) with victims broadcast back against the
    funnel (|victims| << corpus). The funnel aggregate is one grouped
    pass over flags — no stage re-reads the corpus."""
    d = load_table(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    is_q = (F.size(ts.words(txt)) >= 10) & (
        F.coalesce(F.col("n_chars"), F.lit(0)) >= 50
    )
    base = d.select("doc_id", "source", "text", is_q.alias("is_q"))
    w_txt = Window.partitionBy(F.xxhash64("text")).orderBy(
        F.asc_nulls_last("doc_id")
    )
    surv = (
        base.where(F.col("is_q"))
        .withColumn("rn", F.row_number().over(w_txt))
        .where(F.col("rn") == 1)
        .select("doc_id", F.lit(1).alias("is_ex"))
    )
    _, victim_pairs = _semdedup_v_and_victims(spark, sf_dir)
    victims = (
        victim_pairs.select(F.col("victim").alias("doc_id"))
        .distinct()
        .withColumn("is_victim", F.lit(1))
    )
    enr = base.join(surv, "doc_id", "left").join(
        F.broadcast(victims), "doc_id", "left"
    )
    one = F.lit(1)
    zero = F.lit(0)
    return enr.groupBy("source").agg(
        F.count(one).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("is_q"), one).otherwise(zero))
        .cast("long")
        .alias("n_quality"),
        F.sum(F.when(F.col("is_ex") == 1, one).otherwise(zero))
        .cast("long")
        .alias("n_exact"),
        F.sum(
            F.when(
                (F.col("is_ex") == 1) & F.col("is_victim").isNull(), one
            ).otherwise(zero)
        )
        .cast("long")
        .alias("n_final"),
    )


@register(
    "q_dataset_card",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, source, text, n_chars,
             CAST(len({ts.words_sql("coalesce(text, '')")}) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT
      CAST(count(*) AS BIGINT)                           AS n_docs,
      CAST(sum(n_tokens) AS BIGINT)                      AS n_tokens,
      CAST(count(DISTINCT lang) AS BIGINT)               AS n_langs,
      CAST(count(DISTINCT source) AS BIGINT)             AS n_sources,
      CAST(sum(CASE WHEN n_tokens = 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                         AS n_empty,
      CAST(count(*) - count(DISTINCT text) AS BIGINT)    AS n_exact_dups,
      {stable_round_sql(
          "CAST(sum(n_tokens) AS DOUBLE) / nullif(count(*), 0)", 4
      )} AS avg_tokens,
      {stable_round_sql(
          "CAST(count(*) - count(DISTINCT text) AS DOUBLE)"
          " / nullif(count(*), 0)", 4
      )} AS dup_ratio
    FROM w
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet — the summary block a dataset release
    publishes (docs, total/average tokens, language and source spread,
    empty-doc and exact-duplicate counts, duplicate ratio). Each number
    is independently available from other keys; the card's value is ONE
    scan producing the whole block (count, sum, conditional sum, and two
    count-distincts share a single aggregate).

    Cross-engine exactness: counts are integers; count(DISTINCT text)
    ignores NULL text in SQL, so the engine counts distinct xxhash64
    digests guarded by isNotNull (the q_source_stats rule; collision
    bound as q_dup_cluster_sizes); ratios divide the same integers and
    stable-round, with nullif guarding the empty corpus.

    Scale: text dedup counting shuffles 8-byte digests, never bodies;
    everything else is map-side partial aggregation into one row."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(ts.words(F.coalesce(F.col("text"), F.lit("")))).cast(
        "long"
    )
    w = d.select(
        "lang",
        "source",
        "text",
        n_tokens.alias("n_tokens"),
    )
    n = F.count(F.lit(1))
    n_distinct_text = F.countDistinct(
        F.when(F.col("text").isNotNull(), F.xxhash64("text"))
    )
    return w.agg(
        n.cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(F.when(F.col("n_tokens") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_empty"),
        (n - n_distinct_text).cast("long").alias("n_exact_dups"),
        stable_round(
            F.sum("n_tokens").cast("double") / F.nullif(n, F.lit(0)), 4
        ).alias("avg_tokens"),
        stable_round(
            (n - n_distinct_text).cast("double") / F.nullif(n, F.lit(0)), 4
        ).alias("dup_ratio"),
    )


def _trigram_count_kernel():
    """mapInArrow kernel: (doc_id, text) rows → (doc_id, gram_code, cnt)
    rows, one per DISTINCT trigram per input ROW (round-12, guide §2.3
    map-side pre-aggregation + §4.2 native batch code).

    The per-row counting is pure pre-aggregation: duplicated doc_id rows
    each emit their own (code, cnt) rows and the downstream
    (doc_id, gram_code) SUM pools them — exactly the cross-row pooling
    that fuzz-killed round 11's per-row FINAL-entropy kernel, preserved
    here by design. gram_code packs the trigram's three code points into
    one int64 ((c0<<42)|(c1<<21)|c2 — code points < 2^21, total 63 bits):
    the bijection makes groupBy(code) ≡ groupBy(gram string), and the
    gram itself never reaches the query output, so no string is ever
    built. Code-point semantics match Spark substring / DuckDB substr /
    Python slicing (UTF-32 = code points; Arrow strings are valid UTF-8,
    so the encode can't hit surrogates). Rows with NULL or <3-char text
    emit nothing (the expression form's length(text) >= 3 filter)."""

    def run(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            keep = [
                i for i, t in enumerate(texts) if t is not None and len(t) >= 3
            ]
            if not keep:
                continue
            cp = np.frombuffer(
                "".join(texts[i] for i in keep).encode("utf-32-le"),
                dtype=np.uint32,
            ).astype(np.int64)
            lens = np.array([len(texts[i]) for i in keep], dtype=np.int64)
            starts = np.concatenate([[0], np.cumsum(lens)])[:-1]
            nval = lens - 2
            bounds = np.concatenate([[0], np.cumsum(nval)])
            p = (
                np.repeat(starts, nval)
                + np.arange(bounds[-1])
                - np.repeat(bounds[:-1], nval)
            )
            codes = (cp[p] << 42) | (cp[p + 1] << 21) | cp[p + 2]
            rows = np.repeat(np.arange(len(keep), dtype=np.int64), nval)
            order = np.lexsort((codes, rows))
            r, cd = rows[order], codes[order]
            head = np.concatenate(
                [[True], (r[1:] != r[:-1]) | (cd[1:] != cd[:-1])]
            )
            grp = np.nonzero(head)[0]
            cnts = np.diff(np.concatenate([grp, [len(r)]]))
            out_ids = ids.take(pa.array(np.asarray(keep, dtype=np.int64)[r[grp]]))
            yield pa.record_batch(
                [
                    out_ids,
                    pa.array(cd[grp], pa.int64()),
                    pa.array(cnts, pa.int64()),
                ],
                names=["doc_id", "gram_code", "cnt"],
            )

    return run


@register(
    "q_text_char_entropy",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(text) - 1),
                    i -> substr(text, CAST(i AS INTEGER), 3))) AS gram
      FROM documents WHERE length(text) >= 3
    ),
    c AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2),
    t AS (
      SELECT doc_id, cnt,
             sum(cnt) OVER (PARTITION BY doc_id) AS total
      FROM c
    ),
    e AS (
      SELECT doc_id,
             CAST(max(total) AS BIGINT) AS n_trigrams,
             -- stable_round (repo doctrine): floor-form half-up is the
             -- same IEEE op sequence in both engines AND never emits the
             -- -0.0 a single-repeated-trigram doc would otherwise produce
             {stable_round_sql(
                 "-sum((CAST(cnt AS DOUBLE) / total)"
                 " * log2(CAST(cnt AS DOUBLE) / total))", 4)}
               AS entropy_bits
      FROM t GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(e.n_trigrams, 0) AS n_trigrams,
           e.entropy_bits
    FROM documents d LEFT JOIN e USING (doc_id)
    """,
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-trigram Shannon entropy (bits) — the
    compression-ratio-style quality signal corpus filters threshold on
    (Gopher-family heuristics): near-zero bits means a repetition loop,
    high bits means diverse text; random bytes score near the uniform
    bound. Documents shorter than 3 chars (or NULL) report 0 trigrams
    and NULL entropy on both sides.

    Cross-engine exactness: the q_entropy pattern — probabilities are
    ratios of exact integers, terms sum per document over bounded type
    counts, and stable_round(4) swallows last-bit FP accumulation-order
    noise with the SAME IEEE op sequence in both engines (its floor form
    also never emits the -0.0 a single-repeated-trigram doc produces, so
    no + 0.0 workaround is needed).

    Scale (round-12 shape, guide §2.3/§4.2): trigram counting happens
    row-local in an Arrow kernel (_trigram_count_kernel) that emits one
    (doc_id, packed-code, cnt) row per DISTINCT trigram per input row —
    the shuffle carries the pre-aggregated distinct-gram stream, never
    one row per trigram OCCURRENCE, and no gram string is materialized
    (the output only needs counts; the int64 code is bijective with the
    gram). Duplicated doc_id rows pool in the downstream (doc_id, code)
    SUM — the exact cross-row semantics that forbade a per-row final
    kernel. The per-doc total rides a window over the reduced frame on
    the same key; bodies never move."""
    d = load_table(spark, sf_dir, "documents")
    id_type = d.schema["doc_id"].dataType.simpleString()
    counts = d.select("doc_id", "text").mapInArrow(
        _trigram_count_kernel(),
        f"doc_id {id_type}, gram_code bigint, cnt bigint",
    )
    c = counts.groupBy("doc_id", "gram_code").agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy("doc_id")
    t = c.withColumn("total", F.sum("cnt").over(w))
    p = F.col("cnt").cast("double") / F.col("total")
    e = t.groupBy("doc_id").agg(
        F.max("total").cast("bigint").alias("n_trigrams"),
        stable_round(-F.sum(p * F.log2(p)), 4).alias("entropy_bits"),
    )
    return d.select("doc_id").join(e, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_trigrams"), F.lit(0).cast("bigint")).alias(
            "n_trigrams"
        ),
        "entropy_bits",
    )


@register(
    "q_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({ts.words_sql("coalesce(text, '')")}) AS token
      FROM documents
    ),
    counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    ranked AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, token) AS rnk
      FROM counts
    ),
    q AS (
      -- ln() quantized to DECIMAL(18,9) BEFORE summing: the sums are then
      -- exact and order-independent; a last-ulp libm difference between
      -- java Math.log and C log can flip at most the 9th decimal of one
      -- term, perturbing the slope ~1e-13 — far inside the 4dp round.
      SELECT CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(18,9)) AS x,
             CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(18,9)) AS y
      FROM ranked
    ),
    s AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS DOUBLE)     AS sx,
             CAST(sum(y) AS DOUBLE)     AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_vocab,
           {stable_round_sql(
               "(CAST(n AS DOUBLE) * sxy - sx * sy)"
               " / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)", 4
           )} AS zipf_slope,
           {stable_round_sql(
               "(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)"
               " / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)) * sx)"
               " / nullif(CAST(n AS DOUBLE), 0.0)", 4
           )} AS intercept
    FROM s
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus token distribution: OLS slope of
    ln(count) against ln(rank) over the full vocabulary — the classic
    corpus-health diagnostic (natural language sits near -1; a scrape
    loop or template farm bends the tail). Single-row output with the
    fitted intercept.

    Cross-engine exactness: the q_regression_ols discipline applied to
    logs — each ln() value quantizes to DECIMAL(18,9), the sufficient
    statistics sum EXACTLY (partition-order-independent), then one
    identical closed-form double expression per engine, stable-rounded;
    nullif guards the degenerate one-token vocabulary.

    Scale: counts are a partial-agg'd token shuffle; the global rank runs
    over the full VOCABULARY via operators/ranks.distributed_rank (range
    exchange + per-partition window + in-plan offsets — round-9 verdict
    item 4: raw web-scale vocab can reach 10^8 types, so the old
    unpartitioned row_number was the registry's last
    vocabulary-cardinality single-partition funnel), and the regression
    reduces to one 5-number aggregate."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(ts.words(F.coalesce(F.col("text"), F.lit("")))).alias(
            "token"
        )
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = distributed_rank(
        counts, [F.desc("cnt"), F.asc("token")], "rnk"
    ).select("cnt", "rnk")
    x = F.log(F.col("rnk").cast("double")).cast("decimal(18,9)")
    y = F.log(F.col("cnt").cast("double")).cast("decimal(18,9)")
    s = ranked.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.nullif(nd * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0))
    slope = num / den
    return s.select(
        F.col("n").cast("long").alias("n_vocab"),
        stable_round(slope, 4).alias("zipf_slope"),
        stable_round(
            (F.col("sy") - slope * F.col("sx")) / F.nullif(nd, F.lit(0.0)), 4
        ).alias("intercept"),
    )
