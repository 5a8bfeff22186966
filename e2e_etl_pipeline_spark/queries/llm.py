"""B.8 — LLM-data-pipeline operators as registered queries: dedup (exact /
MinHash-LSH / SimHash / exact Jaccard / embedding near-dup), similarity
search (brute-force + LSH), text analysis (wordcount, stats, language-ID,
quality, token counts, fingerprint), multimodal columns.

Oracles are provided wherever DuckDB can express the semantics; xxhash64-based
operators (MinHash, SimHash) are rows-only by necessity (engine-specific hash
function) and carry pytest coverage instead (tests/test_llm_ops.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions import textstats as ts
from e2e_etl_pipeline_spark.functions.digests import md5_u60_sql, md5_u120, md5_u120_sql
from e2e_etl_pipeline_spark.functions.rounding import stable_round, stable_round_sql
from e2e_etl_pipeline_spark.functions.vectors import cosine_sql, dot_sql, l2_norm, l2_norm_sql
from e2e_etl_pipeline_spark.operators import dedup as dd
from e2e_etl_pipeline_spark.operators import multimodal as mm
from e2e_etl_pipeline_spark.operators import similarity as sim
from e2e_etl_pipeline_spark.registry import register

_STOPWORD_SQL = "(" + ", ".join(f"'{w}'" for w in ts.EN_STOPWORDS) + ")"


def quality_scored_cte(cols: str) -> str:
    """The ONE DuckDB rendering of functions/textstats.quality_score.

    Returns the CTE chain ``qtoks, qfeats, scored`` where ``scored`` has
    ``{cols}`` (plain document column names, passed through) plus
    ``quality``. Every quality-scoring oracle composes this fragment —
    q_text_quality, q_training_pipeline, q_web_curation — so a change to
    the formula, the pinned whitespace class, or the degenerate-document
    CASE guards edits exactly one place. The guards mirror the engine's
    coalesce defaults (no words -> sw/mwl 0; NULL/empty text -> pr 1): a
    bare 0/0 is NULL in DuckDB but raises DIVIDE_BY_ZERO in ANSI Spark,
    and a NULL quality would diverge from the engine's defaults."""
    return f"""qtoks AS (
      SELECT {cols}, text AS _qtext,
             {ts.words_sql("text")} AS _w
      FROM documents
    ),
    qfeats AS (
      SELECT {cols},
        CAST(length(_qtext) AS DOUBLE) AS _n_chars,
        CASE WHEN _w IS NULL OR len(_w) = 0 THEN 0.0
             ELSE CAST(len(list_filter(_w, t -> lower(t) IN {_STOPWORD_SQL}))
                       AS DOUBLE) / len(_w) END AS _sw,
        CASE WHEN _qtext IS NULL OR length(_qtext) = 0 THEN 1.0
             ELSE CAST(length(_qtext) - length(regexp_replace(_qtext,
                       '{ts.PUNCT_PATTERN}', '', 'g')) AS DOUBLE)
                  / length(_qtext) END AS _pr,
        CASE WHEN _w IS NULL OR len(_w) = 0 THEN 0.0
             ELSE CAST(list_sum(list_transform(_w, t -> length(t))) AS DOUBLE)
                  / len(_w) END AS _mwl
      FROM qtoks
    ),
    scored AS (
      SELECT {cols},
        round(least(_n_chars / 400.0, 1.0) * 0.4
              + least(_sw * 4.0, 1.0) * 0.2
              + greatest(1.0 - _pr * 5.0, 0.0) * 0.2
              + (CASE WHEN _mwl >= 2.0 AND _mwl <= 10.0 THEN 1.0 ELSE 0.0 END)
                * 0.2,
              4) AS quality
      FROM qfeats
    )"""


def contaminated_ids(documents: DataFrame, is_eval) -> DataFrame:  # noqa: ANN001
    """doc_ids of NON-eval documents sharing a word-5-gram shingle with the
    eval slice — the one decontamination construction both
    q_decontaminate and q_training_pipeline consume (a change to the
    shingle width or the overlap rule edits exactly one place)."""
    from e2e_etl_pipeline_spark.operators.dedup import word_shingles

    shingled = documents.select(
        "doc_id", F.explode(word_shingles("text", 5)).alias("shingle")
    )
    eval_sh = shingled.where(is_eval).select("shingle").distinct()
    return (
        shingled.where(~is_eval)
        .join(eval_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@register(
    "q_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies, min(lang) AS lang
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic survivor (lowest doc_id per text) —
    A24's first-write-wins, keyed on content instead of scroll index.

    The aggregation groups on xxhash64(text), NOT text: document bodies
    never leave the scan stage, so the shuffle carries (8-byte digest,
    doc_id, lang) instead of the corpus — at 100 TB that's the difference
    between shuffling kilobytes-per-doc and tens of bytes. Trade-off:
    a 64-bit digest collision would merge two distinct texts; corpora
    large enough for that to matter (≳10^9 docs) should swap in
    xxhash64(text, salt) pairs or md5 — the plan shape is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.xxhash64("text").alias("_digest"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("lang").alias("lang"),
        )
        .select("keep_id", "n_copies", "lang")
    )


@register(
    "q_dedup_exact128",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies, min(lang) AS lang
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_exact's named 128-bit upgrade path, made concrete: identical
    plan shape (digest-grouped aggregate, bodies never shuffle), but the
    group key is operators/dedup.content_digest(bits=128) — two
    domain-separated xxhash64 passes as a struct, 16 bytes through the
    shuffle — so the 64-bit birthday bound (~2^32 docs) no longer applies.
    The oracle groups by raw text: the check therefore also PROVES the
    digest introduced no collision at this scale."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(dd.content_digest("text", bits=128).alias("_digest"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("lang").alias("lang"),
        )
        .select("keep_id", "n_copies", "lang")
    )


_H1_SQL, _H2_SQL = md5_u120_sql("text")


@register(
    "q_dedup_exact_wide",
    oracle=f"""
    SELECT
      {_H1_SQL}        AS h1,
      {_H2_SQL}        AS h2,
      min(doc_id)      AS keep_id,
      count(*)         AS n_copies
    FROM documents
    GROUP BY h1, h2
    """,
)
def q_dedup_exact_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the 120-bit md5 carving
    (functions/digests.md5_u120 — nibbles 1-15 and 16-30 as two 60-bit
    longs), SHIPPING the digest pair at the edge: unlike
    q_dedup_exact128's xxhash64 struct (rows-equivalent but engine-only),
    DuckDB recomputes these exact longs, so the driver hash proves the
    widened digest is bit-identical cross-engine on the full corpus — the
    round-10 verdict's 'ship the 120-bit carving as code' item. Birthday
    bound ~2^60 keys (vs ~2^30 for one 60-bit column): the carving to key
    a 100 TB exact-dedup on. Plan shape is q_dedup_exact's: one hash
    aggregate on (h1, h2, doc_id) — 16 digest bytes through the shuffle,
    document bodies never leave the scan. md5(NULL) is NULL on both
    engines and (NULL, NULL) is one group under GROUP BY on both — NULL
    texts dedup to a single survivor identically."""
    d = load_table(spark, sf_dir, "documents")
    h1, h2 = md5_u120(F.col("text"))
    return (
        d.groupBy(h1.alias("h1"), h2.alias("h2"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("h1", "h2", "keep_id", "n_copies")
    )


@register(
    "q_dup_span_audit",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, source,
             {ts.words_sql("text")} AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source, array_to_string(ws[i:i+7], ' ') AS gram
      FROM words, UNNEST(range(1, greatest(len(ws) - 6, 1))) AS t(i)
      WHERE len(ws) >= 8
    ),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    flagged AS (
      SELECT DISTINCT doc_id, source FROM grams JOIN dup USING (gram)
    ),
    per_source_flagged AS (
      SELECT source, count(*) AS n_flagged FROM flagged GROUP BY source
    ),
    base AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
    SELECT
      b.source,
      b.n_docs,
      CAST(coalesce(f.n_flagged, 0) AS BIGINT)              AS n_flagged,
      {stable_round_sql("coalesce(f.n_flagged, 0) * 1.0 / b.n_docs", 4)}
                                                            AS flagged_share
    FROM base b LEFT JOIN per_source_flagged f USING (source)
    """,
)
def q_dup_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span (memorization-risk) audit: a document
    is flagged when any of its word-8-grams also appears in ANOTHER
    document — the substring-level duplication signal behind
    train-data-extraction risk, distinct from within-doc repetition
    (q_text_repetition) and pairwise similarity (q_dedup_jaccard /
    q_dedup_ngram). Output is the per-source flagged share, the number a
    curation pipeline thresholds on.

    Scale: grams are distinct-per-doc at the scan stage, so the shuffle
    carries (gram, doc) pairs once each; the duplicated-gram set is a
    HAVING over a combinable count, and the flag join is an equi-join on
    the gram. Grams shuffle as strings here for oracle-exactness — at
    corpus scale swap the join key for operators/dedup.content_digest
    (bits=128) of the gram, which shrinks shuffle bytes ~4× with the same
    plan shape."""
    d = load_table(spark, sf_dir, "documents")
    # .distinct() = the oracle's SELECT DISTINCT (doc, source, gram): a
    # duplicated doc row must not self-flag its document (pk variant).
    grams = d.select(
        "doc_id", "source", F.explode(dd.word_shingles("text", 8)).alias("gram")
    ).distinct()
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("gram")
    )
    flagged = (
        grams.join(dup, "gram")
        .select("doc_id", "source")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    base = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    n_flagged = F.coalesce(F.col("n_flagged"), F.lit(0).cast("long"))
    return base.join(flagged, "source", "left").select(
        "source",
        "n_docs",
        n_flagged.alias("n_flagged"),
        stable_round(n_flagged * F.lit(1.0) / F.col("n_docs"), 4).alias(
            "flagged_share"
        ),
    )


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             {ts.words_sql("coalesce(text, '')")} AS ws
      FROM documents
    ),
    starts AS (
      SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS gram
      FROM words, UNNEST(range(1, len(ws) - 6)) AS t(i)
      WHERE len(ws) >= 8
    ),
    dup AS (SELECT gram FROM starts GROUP BY gram HAVING count(*) >= 2),
    cov AS (
      SELECT doc_id, i,
             i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS gap
      FROM starts JOIN dup USING (gram)
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_dup_starts,
             CAST(sum(least(coalesce(gap, 8), 8)) AS BIGINT) AS n_covered,
             -- gap == 8 is ABUTTING coverage (prev gram ends exactly where
             -- this one starts): hole-free, so it extends the same maximal
             -- span; a new span opens only when a token is left uncovered
             -- (gap > 8). Advisor finding, round 6.
             CAST(sum(CASE WHEN gap IS NULL OR gap > 8 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_spans
      FROM cov GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(len(w.ws) AS BIGINT)            AS n_tokens,
           coalesce(p.n_dup_starts, 0)          AS n_dup_starts,
           coalesce(p.n_covered, 0)             AS n_covered,
           coalesce(p.n_spans, 0)               AS n_spans,
           coalesce(p.n_covered, 0) * 5 <= CAST(len(w.ws) AS BIGINT)
                                                AS ok_span_coverage
    FROM words w LEFT JOIN per_doc p USING (doc_id)
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring coverage per document — the
    deduplicate-text-datasets operation (Lee et al. 2022, public): find
    every position covered by a word-8-gram that occurs >= 2 times in the
    CORPUS (within-doc repeats count, unlike q_dup_span_audit's
    cross-document flag), merge overlapping hits into maximal spans, and
    report per-doc coverage plus the <= 20% keep rule (5·covered <=
    tokens, divisionless). The reference implementation builds a corpus
    suffix array; the Spark-native equivalent is positional shingles + a
    combinable duplicate-gram aggregate + a per-doc ordered window —
    gaps-and-islands: with gram starts sorted, a start s covers
    min(s - prev_s, 8) NEW tokens (8 when it opens a span), so coverage
    and span count fall out of one lag() pass; a gap of exactly 8 abuts
    the previous gram's coverage and extends the same maximal span.

    Scale: shuffle carries (gram, doc, pos) once per occurrence; the
    duplicate-gram set is a HAVING over a combinable count; the coverage
    window partitions BY DOCUMENT (bounded frames). At corpus scale swap
    the gram join key for content_digest(gram) as in q_dup_span_audit.
    All outputs are integers/booleans — no FP boundary anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = ts.words(F.coalesce(F.col("text"), F.lit("")))
    base = d.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    starts = d.select(
        "doc_id",
        F.posexplode(dd.positional_shingles("text", 8)).alias("pos", "gram"),
    )
    dup = (
        starts.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("gram")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        starts.join(dup, "gram")
        .select("doc_id", "pos")
        .withColumn("gap", F.col("pos") - F.lag("pos").over(win))
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_starts"),
        F.sum(F.least(F.coalesce(F.col("gap"), F.lit(8)), F.lit(8)))
        .cast("long")
        .alias("n_covered"),
        # gap == 8 abuts the previous gram's coverage (no uncovered token in
        # between) and so extends the SAME maximal span; only gap > 8 opens
        # a new one — mirrors the oracle exactly.
        F.sum(
            F.when(F.col("gap").isNull() | (F.col("gap") > 8), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_spans"),
    )
    z = F.lit(0).cast("long")
    n_cov = F.coalesce(F.col("n_covered"), z)
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_starts"), z).alias("n_dup_starts"),
        n_cov.alias("n_covered"),
        F.coalesce(F.col("n_spans"), z).alias("n_spans"),
        (n_cov * 5 <= F.col("n_tokens")).alias("ok_span_coverage"),
    )


@register(
    "q_dedup_near",
    oracle=f"""
    WITH words AS (
      SELECT doc_id AS id,
             {ts.words_sql("text")} AS ws
      FROM documents
    ),
    grams AS (
      -- DISTINCT (id, gram): the engine's word_shingles is array_distinct
      -- per row and min() is multiplicity-insensitive, so the per-id
      -- shingle SET is the shared contract (registry pk rule)
      SELECT DISTINCT id, gram
      FROM (
        SELECT id,
               unnest(list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
                 AS gram
        FROM words
      )
    ),
    sig AS (
      SELECT id, k.hash_id,
             min({md5_u60_sql("gram || chr(10) || CAST(k.hash_id AS VARCHAR)")})
               AS minhash
      FROM grams CROSS JOIN (SELECT unnest(range(0, 32)) AS hash_id) k
      GROUP BY id, k.hash_id
    ),
    banded AS (
      SELECT id, hash_id // 4 AS band_id,
             {md5_u60_sql(
                 "string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_id)"
             )} AS band_hash
      FROM sig
      GROUP BY id, hash_id // 4
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                   AND a.id < b.id
    ),
    est AS (
      SELECT c.id_a, c.id_b,
             {stable_round_sql(
                 "avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END)", 4
             )} AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.id = c.id_a
      JOIN sig sb ON sb.id = c.id_b AND sb.hash_id = sa.hash_id
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 hashes) + LSH(8 bands) candidate pairs with estimated
    Jaccard, verified ≥ 0.5 band agreement. See operators/dedup.py for the
    shuffle-volume analysis.

    Oracle-checked since round 10 (previously rows-only — the LAST
    rows-only pair with q_dedup_simhash, round-9 verdict item 3): the
    per-(shingle, hash_id) hash is the 60-bit md5 carving
    (functions/digests.md5_u60_spark_sql), which DuckDB reproduces
    verbatim — so signatures, band hashes, the candidate equi-join, and
    the agreement estimate all restate in pure SQL.
    The estimate is stable_round'ed and the ≥ 0.5 threshold compares the
    rounded value on both sides (registry rule) — k/32 agreement
    fractions are exact dyadic doubles, so even the raw values match
    bit-for-bit. The estimator's ACCURACY contract (vs exact Jaccard) is
    the separate q_minhash_accuracy_bound key."""
    d = load_table(spark, sf_dir, "documents")
    # Wide-vector forms (round 12): banding sides and the agreement
    # estimate are projections of ONE AQE-reused signature exchange —
    # the narrow-row pipeline re-ran the final min-merge + posexplode
    # per consumer and re-aggregated rows back into bands/averages
    # (plans/r12/q_dedup_near_executed_{before,after}.txt: 4 Generate
    # posexplode → 0). Identical hash expressions, identical oracle.
    sums = dd.minhash_signature_vector(
        d, "doc_id", "text", num_hashes=32, shingle_size=3
    )
    pairs = dd.lsh_candidate_pairs_vec(sums, num_hashes=32, bands=8)
    return dd.minhash_similarity_vec(sums, pairs).where(
        F.col("est_jaccard") >= 0.5
    )


@register(
    "q_dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS id,
             unnest({ts.words_sql("text")}) AS token
      FROM documents
    ),
    th AS (
      -- the token's 64 hash bits as two 32-bit halves of the md5 hex
      -- (chars 1-8 = bits 63..32, chars 9-16 = bits 31..0), mirroring
      -- simhash_fingerprints
      SELECT id,
             CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS hi,
             CAST('0x' || substr(md5(token), 9, 8) AS BIGINT) AS lo
      FROM tok
    ),
    bits AS (
      SELECT id, b.bit,
             sum(CASE WHEN ((CASE WHEN b.bit < 32 THEN lo >> CAST(b.bit AS INT)
                                  ELSE hi >> CAST(b.bit - 32 AS INT) END) & 1) = 1
                      THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) b
      GROUP BY id, b.bit
    )
    SELECT id,
           CAST(sum(CASE WHEN s > 0 THEN
                  (CASE WHEN bit = 63 THEN -9223372036854775808
                        ELSE (CAST(1 AS BIGINT) << CAST(bit AS INT)) END)
                ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY id
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints per document (near-dup via banded
    hamming join is exercised in tests where true near-dups exist).

    Oracle-checked since round 10 (previously rows-only, round-9 verdict
    item 3): the per-token hash is the first 16 md5 hex nibbles as two
    32-bit halves, which DuckDB recomputes verbatim; bit 63's weight is
    the explicit two's-complement literal on both sides (DuckDB errors on
    1::BIGINT << 63 — see simhash_fingerprints)."""
    d = load_table(spark, sf_dir, "documents")
    return dd.simhash_fingerprints(d, "doc_id", "text")


# THE exact-Jaccard contract, shared by every consumer (q_dedup_jaccard,
# q_minhash_accuracy_bound, curation's q_dedup_cluster_cc): oracle
# tokenization is textstats.words_sql, the twin of the engine's words (a
# single-space split would diverge on tabs / doubled spaces); the df-cutoff
# (HAVING count(*) <= 500) mirrors the engine's max_df candidate-verify
# guard: candidates come from rare tokens only, intersections are
# re-counted on the full token sets, so Jaccard values stay exact. A
# semantic change here changes every consumer at once — by construction,
# not by three copies staying in sync (round-7 review).
JACCARD_CORE_CTE = f"""toks AS (
      SELECT DISTINCT doc_id AS id,
             unnest({ts.words_sql("text")}) AS token
      FROM documents WHERE lang = 'de'
    ),
    sizes AS (SELECT id, count(*) AS set_size FROM toks GROUP BY id),
    keep AS (SELECT token FROM toks GROUP BY token HAVING count(*) <= 500),
    jtoks AS (SELECT t.id, t.token FROM toks t JOIN keep USING (token)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM jtoks a JOIN jtoks b ON a.token = b.token AND a.id < b.id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN toks ta ON ta.id = c.id_a
      JOIN toks tb ON tb.id = c.id_b AND tb.token = ta.token
      GROUP BY c.id_a, c.id_b
    )"""

# stable_round_sql, not round(): the threshold compares the ROUNDED value,
# and an integer ratio can land on an exact 4dp midpoint (9999/20000 =
# 0.49995) where DuckDB's half-even round drops the pair while Spark's
# HALF_UP keeps it — a structural edge-set split, not just a display-cell
# flip (round-7 review; functions/rounding.py documents the class). The
# engine side (word_jaccard_pairs) uses stable_round.
JACCARD_RATIO_SQL = stable_round_sql(
    "CAST(n_inter AS DOUBLE) /"
    " CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE)",
    4,
)

# Core + the >= 0.5 pair selection, for consumers that only need edges.
JACCARD_PAIRS_CTE = f"""{JACCARD_CORE_CTE},
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE {JACCARD_RATIO_SQL} >= 0.5
    )"""


def word_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Engine side of the shared oracle chain: exact word-set Jaccard
    (max_df=500 candidate cutoff) as (id_a, id_b, jaccard), the ratio
    stable_round'ed to 4 dp and thresholded ROUNDED at >= 0.5."""
    pairs = dd.set_jaccard_pairs(dd.word_sets(docs, "doc_id", "text"), max_df=500)
    return pairs.select(
        "id_a", "id_b", stable_round(F.col("jaccard"), 4).alias("jaccard")
    ).where(F.col("jaccard") >= 0.5)


@register(
    "q_dedup_jaccard",
    oracle=f"""
    WITH {JACCARD_CORE_CTE}
    SELECT
      id_a, id_b,
      {JACCARD_RATIO_SQL} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE {JACCARD_RATIO_SQL} >= 0.5
    """,
)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ 0.5 over the 'de' slice via inverted-index
    join (no cross product) with a document-frequency cutoff so no single
    stop-word-grade token can go quadratic (operators/dedup.py)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("lang") == "de")
    return word_jaccard_pairs(d)


@register(
    "q_minhash_accuracy_bound",
    # The shared exact-Jaccard CTE chain (JACCARD_PAIRS_CTE — one
    # definition for every consumer) — the oracle reproduces the pair
    # count and asserts the estimator bound as a literal.
    oracle=f"""
    WITH {JACCARD_PAIRS_CTE}
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           TRUE                     AS mean_err_ok,
           TRUE                     AS max_err_ok
    FROM pairs
    """,
)
def q_minhash_accuracy_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for the MinHash estimator behind
    q_dedup_near (the same md5 signatures): over the ORACLE-KNOWN
    exact-Jaccard ≥ 0.5 pair set (the q_dedup_jaccard contract), estimate
    Jaccard from 32 minhashes at shingle_size=1 — the SAME word-set measure the exact pairs use, so
    estimator and target are directly comparable — and assert TWO
    population-level bounds: mean |err| ≤ 0.12 (expected ≈ σ√(2/π) ≤
    0.07 at k=32) and max |err| ≤ 0.5.

    The max bound is sized for the MAXIMUM over the whole pair set, not
    one pair: E[max over n] ≈ σ√(2 ln n) ≈ 0.31 at n≈1600 — a naive
    per-pair 4σ (0.35) bound DID fail the unicode fuzz variant (measured
    max 0.356 on correlated overlapping pairs). 0.5 leaves ≥ 2σ headroom
    through n ≈ 10⁷ pairs. Comparisons run in scaled-integer math on the
    4-dp-rounded operands (|est·10⁴ − j·10⁴| on longs) so no double
    subtraction can flip a boundary. Empty pair set degrades to TRUE on
    both engines (coalesce)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("lang") == "de")
    exact = word_jaccard_pairs(d)
    sums = dd.minhash_signature_vector(
        d, "doc_id", "text", num_hashes=32, shingle_size=1
    )
    est = dd.minhash_similarity_vec(sums, exact.select("id_a", "id_b"))
    joined = exact.join(est, ["id_a", "id_b"], "left")
    est_i = F.round(
        F.coalesce(F.col("est_jaccard"), F.lit(0.0)) * 10000
    ).cast("long")
    j_i = F.round(F.col("jaccard") * 10000).cast("long")
    err_i = F.abs(est_i - j_i)
    n = F.count(F.lit(1))
    return joined.select(err_i.alias("err_i")).agg(
        n.alias("n_pairs"),
        (F.coalesce(F.sum("err_i"), F.lit(0)) <= n * 1200).alias("mean_err_ok"),
        (F.coalesce(F.max("err_i"), F.lit(0)) <= 5000).alias("max_err_ok"),
    )


@register(
    "q_dedup_corpus",
    oracle="""
    WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN keep USING (doc_id)
    """,
)
def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup: exact-dup pairs → connected components →
    min-id survivor per cluster → filtered corpus (operators/dedup.py).
    Driven here by exact-duplicate pairs so DuckDB can state the expected
    survivor set directly; the same operator consumes MinHash/SimHash pair
    sets unchanged (covered in tests/test_llm_ops.py)."""
    # NULL-id docs are outside identity-keyed dedup (the oracle's
    # min(doc_id)-then-join drops them implicitly; the engine must too —
    # pk variant) — same contract as q_dedup_cluster_cc's node set.
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    # Pair-gen joins on the 8-byte xxhash64 digest, not the document body:
    # the shuffle exchange is then keyed (hashed, sorted, compared) on a
    # long instead of full text — the design note in operators/dedup.py. The
    # post-join text equality check only runs inside same-digest groups,
    # which are collision-rare and tiny.
    keyed = d.select("doc_id", "text").withColumn("digest", F.xxhash64("text"))
    dup_pairs = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.col("a.text").eqNullSafe(F.col("b.text")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return dd.dedup_corpus(d, dup_pairs).select("doc_id", "lang")


# Literal-hyperplane oracle machinery, shared by q_dedup_embedding (5
# planes × 12 tables) and q_similarity_lsh (6 × 32) — see the block
# comment at q_similarity_lsh for why the dimension must be PINNED to 64
# on both sides (numpy draws a different tensor per dim; a modal-derived
# tensor cannot be mirrored in static SQL).
_LSH_DIM, _LSH_PLANES, _LSH_TABLES = 64, 6, 32


def _lsh_planes_values(
    dim: int = _LSH_DIM,
    n_planes: int = _LSH_PLANES,
    n_tables: int = _LSH_TABLES,
) -> str:
    """The seeded hyperplane tensor as DuckDB VALUES rows
    (table_id, plane_idx, w DOUBLE[]). repr(float) is the shortest
    round-trip rendering — DuckDB parses it back to the identical bits."""
    planes = sim._hyperplanes(dim, n_planes, n_tables, seed=42)
    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            vals = ", ".join(repr(float(x)) for x in planes[t, p])
            rows.append(f"({t}, {p}, [{vals}]::DOUBLE[])")
    return ",\n      ".join(rows)


# Shared bucket/candidate CTE prefix (params interpolated per key): base =
# the 64-dim slice reduced to ONE deterministic embedding per vec_id
# (lexicographic min — identical list ordering in both engines); buckets =
# the signed bit-pattern per (vector, table) — identical algebra to
# operators/similarity._lsh_bucketizer. min-per-id, not SELECT DISTINCT
# (round-9 second review): a pathological corpus carrying one id with TWO
# distinct embeddings would survive a pair-DISTINCT, and then the bucket
# CTE's GROUP BY vec_id would sum CASE terms across both embeddings into
# a garbage bucket while the engine bucketizes per row — min-per-id makes
# the id→embedding mapping a function on BOTH sides by construction.
def _lsh_oracle_prefix(n_planes: int, n_tables: int) -> str:
    return f"""
    WITH base AS (
      SELECT vec_id, min(embedding) AS embedding FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {_LSH_DIM}
      GROUP BY vec_id
    ),
    planes(table_id, plane_idx, w) AS (VALUES
      {_lsh_planes_values(_LSH_DIM, n_planes, n_tables)}
    ),
    buckets AS (
      SELECT b.vec_id, p.table_id,
             sum(CASE WHEN {dot_sql("b.embedding", "p.w")} > 0
                 THEN (CAST(1 AS BIGINT) << p.plane_idx)
                 ELSE CAST(0 AS BIGINT) END) AS bucket
      FROM base b CROSS JOIN planes p
      GROUP BY b.vec_id, p.table_id
    ),
    norms AS (
      SELECT vec_id, embedding, {l2_norm_sql("embedding")} AS nrm
      FROM base
    )"""


@register(
    "q_dedup_embedding",
    oracle=f"""{_lsh_oracle_prefix(5, 12)},
    cand AS (
      SELECT DISTINCT qb.vec_id AS id_a, cb.vec_id AS id_b
      FROM buckets qb JOIN buckets cb
        ON qb.table_id = cb.table_id AND qb.bucket = cb.bucket
      WHERE qb.vec_id < cb.vec_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             {cosine_sql("an.embedding", "bn.embedding", "an.nrm", "bn.nrm")} AS cosine
      FROM cand c
      JOIN norms an ON an.vec_id = c.id_a
      JOIN norms bn ON bn.vec_id = c.id_b
    )
    SELECT id_a, id_b, {stable_round_sql('cosine', 4)} AS cosine
    FROM scored WHERE {stable_round_sql('cosine', 4)} >= 0.4
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: ALL LSH-bucketed candidate pairs above a
    cosine threshold — the semantic-dedup stage of a training-data
    pipeline (operators/similarity.lsh_cosine_pairs: no per-query
    top-k truncation, which would cap recall for hub vectors). The
    synthetic embeddings are near-orthogonal (max non-self cosine ≈ 0.49
    at sf0.01), so the threshold sits at 0.4: high for THIS corpus,
    exercising a non-empty deterministic result (a 0.9 threshold returned
    zero rows — a vacuous check). A real corpus tightens the threshold,
    not the plan.

    Round-7 recall retune (round-6 verdict #4): 5 planes × 12 tables
    measures 0.83 recall at sf0.01 / 0.74 at sf0.1 against the exact
    above-threshold ground truth (was 0.37/0.32 at 6×6 with k=5) — the
    bound twin asserts ≥ 0.5, and planted-duplicate recall is asserted in
    tests/test_llm_ops.py.

    Oracle-checked since round 9 (previously rows-only), via the same
    literal-hyperplane technique as q_similarity_lsh — which requires the
    dimension PINNED to 64 on both sides (see _lsh_planes_values block
    comment; a non-64 corpus goes empty identically on both sides), and
    inputs reduced to one deterministic embedding per id (lexicographic
    min, mirroring the oracle's min-per-id GROUP BY — see
    _lsh_oracle_prefix; lsh_cosine_pairs owns that reduction). The
    modal-dim-gated general path stays exercised by the bound twin's
    exact ground truth."""
    em = load_table(spark, sf_dir, "embeddings").where(
        F.size("embedding") == _LSH_DIM
    )
    return sim.lsh_cosine_pairs(
        em, threshold=0.4, dim=_LSH_DIM, n_planes=5, n_tables=12
    )


@register(
    "q_dedup_embedding_bound",
    oracle=f"""
    WITH __dim AS ({sim.MODAL_DIM_SQL}),
    v AS (
      SELECT vec_id, embedding, {l2_norm_sql("embedding")} AS nrm
      FROM embeddings WHERE len(embedding) = (SELECT d FROM __dim)
    ),
    p AS (
      SELECT {cosine_sql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT)            AS n_corpus,
           CAST(count(*) FILTER (
             WHERE {stable_round_sql("cosine", 4)} >= 0.4
           ) AS BIGINT)                                        AS n_true_pairs,
           TRUE                                                 AS dedup_recall_ok
    FROM p
    """,
)
def q_dedup_embedding_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable exact twin of q_dedup_embedding (round-5 verdict #7,
    q_similarity_recall_bound pattern): the semantic-dup GROUND TRUTH —
    every unordered pair with cosine >= 0.4 — is plain SQL, so the oracle
    hash-checks ``n_true_pairs`` exactly, and a boolean asserts the LSH
    candidate generation (the dedup key's own 5-plane / 12-table
    no-top-k configuration) recovers >= 50% of those pairs. Measured
    recall is 0.83 (sf0.01, 59 true pairs) / 0.74 (sf0.1, 920) — the 0.5
    floor sits ~30% below the weaker measurement so a per-round corpus
    redraw cannot flip it by re-draw luck (round-6 verdict #4 raised it
    from the old 6×6/k=5 config's 0.2). Recall compares in integer math
    (hits*2 >= n_true) — no FP boundary.

    Binds only when the corpus is big enough for fixed bucket counts to
    be meaningful (>= 100 vectors, same floor as q_similarity_recall_bound:
    fixed buckets over a decimated handful of vectors are near-singleton
    partitions whose recall legitimately collapses). Zero-norm vectors are
    excluded from pairs on both sides (nrm > 0 guards the division).
    ``n_corpus`` is derived in-plan via a broadcast scalar aggregate
    (round-6 advice: the eager count() is gone); the LSH bucketizer
    derives the dimension from each Arrow batch inside the task, so
    constructing this query triggers zero Spark jobs
    (tests/test_construction_lazy.py).

    Scale: the exact all-pairs side is the verification harness, not the
    operator — it is quadratic BY DESIGN and runs on the bounded bench
    corpus; the certified artifact (LSH bucketing) is the linear scale
    path. Modal-dimension gate on both sides (``__dim`` CTE /
    filter_modal_dim — the ragged fuzz variant's contract): n_corpus
    counts gated vectors."""
    em = sim.filter_modal_dim(load_table(spark, sf_dir, "embeddings"))
    counts = em.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    # Blocked exact all-pairs (round-11 optimization): same ground-truth
    # edge set — id_a < id_b, zero/NULL norms excluded, threshold on the
    # stable-rounded cosine — but each hash-block pair scores as one NumPy
    # sub-matrix with the identical left-to-right IEEE accumulation, so
    # every cosine is bit-identical to the old zip_with/aggregate join
    # (similarity.blocked_cosine_pairs; 4M-pair live compare: 0 bit
    # diffs, 27 s → 1.2 s at sf0.1).
    exact = sim.blocked_cosine_pairs(em, threshold=0.4).select("id_a", "id_b")
    lsh_pairs = (
        sim.lsh_cosine_pairs(em, threshold=0.4, n_planes=5, n_tables=12)
        .select("id_a", "id_b")
        .withColumn("in_lsh", F.lit(1))
    )
    joined = exact.join(lsh_pairs, ["id_a", "id_b"], "left")
    # coalesce the AGGREGATE too: sum() over an empty exact set is NULL,
    # and (NULL >= 0) | false is NULL where the oracle says TRUE — a
    # zero-pair corpus must satisfy the bound vacuously (round-6 review).
    hits = F.coalesce(F.sum(F.coalesce(F.col("in_lsh"), F.lit(0))), F.lit(0))
    n_true = F.count(F.lit(1))
    agged = joined.agg(
        n_true.cast("long").alias("n_true_pairs"),
        (hits * 2 >= n_true).alias("_recall_ok"),
    )
    # 1-row × 1-row broadcast cross join keeps construction lazy (no eager
    # count()) while making the small-corpus vacuity in-plan.
    return agged.crossJoin(F.broadcast(counts)).select(
        "n_corpus",
        "n_true_pairs",
        (F.col("_recall_ok") | (F.col("n_corpus") < 100)).alias(
            "dedup_recall_ok"
        ),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@register(
    "q_vector_norm",
    oracle=f"""
    SELECT vec_id, round({l2_norm_sql("embedding")}, 4) AS norm, label
    FROM embeddings
    """,
)
def q_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm via higher-order aggregate (B.8 'multimodal column: embedding
    norm/arith')."""
    em = load_table(spark, sf_dir, "embeddings")
    return em.select("vec_id", F.round(l2_norm("embedding"), 4).alias("norm"), "label")


@register(
    "q_similarity_topk",
    oracle=sim.brute_force_topk_sql(10, "vec_id < 20"),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for 20 query vectors — the
    correctness baseline; the LSH variant (below) is the scale path.
    Modal-dimension gate on both sides (similarity.filter_modal_dim):
    ragged vectors are excluded, not silently zip-diverged."""
    em = sim.filter_modal_dim(load_table(spark, sf_dir, "embeddings"))
    queries = em.where(F.col("vec_id") < 20)
    return sim.brute_force_topk(em, queries, k=10)


@register(
    "q_similarity_filtered",
    oracle=sim.brute_force_topk_sql(5, "vec_id < 20", match_on="label"),
)
def q_similarity_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (the vector-database 'filtered ANN'
    shape): exact cosine top-5 among candidates whose ``label`` EQUALS the
    query's — the filter predicate rides the broadcast join, so
    out-of-filter candidates are never scored (pre-filtering; a
    post-filtered top-k could come up short of k). NULL labels match
    nothing — plain SQL equality on both engines.

    Scale: identical to q_similarity_topk's baseline plan plus one
    codegen'd equality predicate; at corpus scale the same label-equality
    composes with the LSH/IVF bucket join by simply appending the
    metadata column to the bucket key (then buckets are per-label —
    strictly fewer collisions). Modal-dimension gate on both sides
    (similarity.filter_modal_dim): ragged vectors excluded, not
    silently zip-diverged."""
    em = sim.filter_modal_dim(load_table(spark, sf_dir, "embeddings"))
    queries = em.where(F.col("vec_id") < 20)
    return sim.brute_force_topk(em, queries, k=5, match_on="label")


@register(
    "q_similarity_ivf",
    oracle=f"""
    WITH __dim AS ({sim.MODAL_DIM_SQL}),
    base AS (
      -- min-per-id, not DISTINCT: the id→embedding mapping must be a
      -- FUNCTION on both sides (see _lsh_oracle_prefix block comment)
      SELECT vec_id, min(embedding) AS embedding FROM embeddings
      WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
        AND len(embedding) = (SELECT d FROM __dim)
      GROUP BY vec_id
    ),
    cents AS (
      -- embedding as the secondary key: UNIQUE total order under LIMIT
      -- (registry rule) even if one id carried two embeddings
      SELECT vec_id AS centroid_id, embedding AS cent_vec
      FROM base ORDER BY vec_id, embedding LIMIT 16
    ),
    norms AS (
      SELECT vec_id, embedding, {l2_norm_sql("embedding")} AS nrm
      FROM base
    ),
    cscores AS (
      SELECT b.vec_id, c.centroid_id,
             {dot_sql("b.embedding", "c.cent_vec")} AS cscore
      FROM base b CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id AS neighbor_id, centroid_id
      FROM (SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS r
            FROM cscores)
      WHERE r = 1
    ),
    probed AS (
      SELECT vec_id AS query_id, centroid_id
      FROM (SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY cscore DESC, centroid_id) AS r
            FROM cscores WHERE vec_id < 20)
      WHERE r <= 2
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM probed p JOIN assigned a USING (centroid_id)
      WHERE p.query_id != a.neighbor_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             {cosine_sql("qn.embedding", "cn.embedding", "qn.nrm", "cn.nrm")} AS cosine
      FROM cand c
      JOIN norms qn ON qn.vec_id = c.query_id
      JOIN norms cn ON cn.vec_id = c.neighbor_id
    )
    {sim.rank_topk_sql("scored", 10)}""",
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (coarse quantizer + probe-2): the training-free
    alternative scale path to LSH. Recall vs the exact baseline is asserted
    in tests/test_llm_ops.py.

    Oracle-checked since round 9 (previously rows-only): unlike LSH, the
    coarse quantizer needs no literal tensor — the centroids ARE the first
    16 corpus vectors by id, so the whole pipeline (modal-dim gate →
    centroid pick → argmax assignment with the (cscore DESC, centroid_id
    ASC) tiebreak → probe-2 → candidate equi-join on centroid_id → cosine
    → top-10 rank) restates in pure SQL. Inputs reduce to one
    deterministic embedding per id (lexicographic min — the id→embedding
    mapping must be a FUNCTION on both sides, _lsh_oracle_prefix block
    comment; ivf_topk owns that reduction) and drop NULL ids on BOTH
    sides: a NULL id can never reach the output (the pair filter drops
    it), but inside the plan it would force cross-engine
    NULL-group/NULLS-FIRST analysis for nothing.

    ORDER MATTERS (review find, round 9): the modal gate runs on the RAW
    table BEFORE the NULL-id drop and the per-id reduction, because the
    oracle's __dim aggregates the raw embeddings table — electing the
    modal dimension over post-filter rows could pick a different winner
    when duplicated or NULL-id rows skew the per-length counts."""
    em = sim.filter_modal_dim(load_table(spark, sf_dir, "embeddings"))
    queries = em.where(F.col("vec_id") < 20)
    return sim.ivf_topk(em, queries, k=10, n_centroids=16, n_probe=2)


# q_similarity_lsh oracle machinery (round-9 verdict item 7: rows-only →
# oracle-checked). LSH output is deterministic given the seeded
# hyperplanes, so the oracle can recompute the EXACT same buckets — but
# only if the tensor is a static literal, and numpy draws a DIFFERENT
# tensor per dimensionality (randn(32,6,48) is not a prefix of
# randn(32,6,64)), so a modal-dim-derived tensor cannot be mirrored in
# static SQL. The key therefore pins the corpus to the 64-dim slice on
# BOTH sides: on the driver's real testdata that is the whole corpus; on
# a regenerated/fuzzed corpus with another dimension both sides go empty
# identically. The general modal-dim operator surface is still exercised
# (and driver-checked) by q_similarity_topk/filtered/recall_bound.
@register(
    "q_similarity_lsh",
    oracle=f"""{_lsh_oracle_prefix(_LSH_PLANES, _LSH_TABLES)},
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM buckets qb JOIN buckets cb
        ON qb.table_id = cb.table_id AND qb.bucket = cb.bucket
      WHERE qb.vec_id < 20 AND qb.vec_id != cb.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             {cosine_sql("qn.embedding", "cn.embedding", "qn.nrm", "cn.nrm")} AS cosine
      FROM cand c
      JOIN norms qn ON qn.vec_id = c.query_id
      JOIN norms cn ON cn.vec_id = c.neighbor_id
    )
    {sim.rank_topk_sql("scored", 10)}""",
)
def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: equi-join on (table, bucket) replaces the
    cross join — the plan that survives a 100×-corpus scale-up. Recall vs
    the exact baseline is asserted in tests/test_llm_ops.py (≥0.7 at these
    parameters; measured 0.79–0.84 on this corpus).

    Oracle-checked since round 9 (previously rows-only): the seeded
    hyperplane tensor is embedded in the oracle as 192 literal DOUBLE[64]
    rows, so DuckDB recomputes the identical sign buckets, candidate
    equi-join, cosine, and top-10 rank. Dimension is PINNED to 64 on both
    sides (see _lsh_planes_values block comment); inputs reduce to one
    deterministic embedding per id (lexicographic min, mirroring the
    oracle's min-per-id GROUP BY — _lsh_oracle_prefix block comment).
    Known measure-zero hazard, accepted + documented: a plane dot
    landing EXACTLY on 0.0 could in principle round to a different sign
    bit across engines' summation; both sides fold left-to-right doubles,
    and the recall_bound key has proven this arithmetic bit-identical
    driver-side.

    Parameter sizing: n_planes ≈ log2(corpus / target_bucket_size) — 6
    planes → 64 buckets keeps ~8 vectors/bucket at 500 vectors; a 10^9
    corpus wants ~27 planes for the same bucket size. More tables buy
    recall roughly linearly in cost; more planes buy selectivity
    exponentially (at 4 planes/16 buckets the per-query candidate union
    approaches the whole corpus — recall 0.95 but no longer ANN)."""
    em = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.size("embedding") == _LSH_DIM)
        .groupBy("vec_id")
        .agg(F.min("embedding").alias("embedding"))
    )
    queries = em.where(F.col("vec_id") < 20)
    return sim.lsh_bucketed_topk(
        em,
        queries,
        k=10,
        dim=_LSH_DIM,
        n_planes=_LSH_PLANES,
        n_tables=_LSH_TABLES,
    )


@register(
    "q_similarity_recall_bound",
    oracle=f"""
    WITH exact AS ({sim.brute_force_topk_sql(10, "vec_id < 20")})
    SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT)                 AS n_exact_pairs,
           TRUE                                     AS lsh_recall_ok,
           TRUE                                     AS ivf_recall_ok
    FROM exact
    """,
)
def q_similarity_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for the two ANN scale paths
    (q_similarity_lsh, q_similarity_ivf — themselves exactly
    oracle-checked since round 9, but their neighbor sets are
    parameter-specific so this key pins the semantic QUALITY those
    parameters buy, not just their determinism): recomputes the EXACT top-10
    baseline (SQL-reproducible — the oracle derives the same pair count),
    intersects each ANN result with it in-plan, and emits booleans
    asserting LSH recall ≥ 0.6 and IVF recall ≥ 0.5. The thresholds sit
    far below the measured 0.79–0.84 so a per-round corpus regeneration
    cannot flip them by re-draw luck; pytest keeps the tighter ≥ 0.7
    assertions on current data (tests/test_llm_ops.py). Recall ratios
    compare in integer math (hits·10 ≥ total·6) — no FP boundary.

    The contract binds only when the corpus is large enough for the fixed
    ANN configuration to be meaningful (≥ 100 vectors): 16 IVF cells /
    64 LSH buckets over a decimated handful of vectors are near-singleton
    partitions whose recall legitimately collapses — a real deployment
    brute-forces such corpora (the sparse fuzz variant, 17 vectors,
    proved the unguarded bound flips). Below the floor both booleans
    degrade to TRUE on both engines.

    Follows the q_approx_distinct_bound pattern: approximate outputs can
    never hash-match an oracle, but their accuracy contract can.
    Modal-dimension gate on both sides (similarity.filter_modal_dim /
    ``__dim`` CTE): the exact baseline, both ANN paths and the corpus
    floor all see the same gated corpus, so a ragged regeneration cannot
    split the recall booleans from the oracle's literal TRUE."""
    em = sim.filter_modal_dim(load_table(spark, sf_dir, "embeddings"))
    queries = em.where(F.col("vec_id") < 20)
    # in-plan corpus count (broadcast 1-row aggregate) — the eager count()
    # job is gone (round-6 advice), and since round 8 the LSH dim probe is
    # in-plan too: construction runs zero jobs.
    counts = em.agg(F.count(F.lit(1)).cast("long").alias("_n_corpus"))
    exact = sim.brute_force_topk(em, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    lsh = (
        sim.lsh_bucketed_topk(em, queries, k=10, n_planes=6, n_tables=32)
        .select("query_id", "neighbor_id")
        .withColumn("in_lsh", F.lit(1))
    )
    ivf = (
        sim.ivf_topk(em, queries, k=10, n_centroids=16, n_probe=2)
        .select("query_id", "neighbor_id")
        .withColumn("in_ivf", F.lit(1))
    )
    joined = exact.join(lsh, ["query_id", "neighbor_id"], "left").join(
        ivf, ["query_id", "neighbor_id"], "left"
    )
    hits_lsh = F.sum(F.coalesce(F.col("in_lsh"), F.lit(0)))
    hits_ivf = F.sum(F.coalesce(F.col("in_ivf"), F.lit(0)))
    total = F.count(F.lit(1))
    agged = joined.agg(
        F.countDistinct("query_id").alias("n_queries"),
        total.alias("n_exact_pairs"),
        (hits_lsh * 10 >= total * 6).alias("_lsh_ok"),
        (hits_ivf * 2 >= total).alias("_ivf_ok"),
    )
    small = F.col("_n_corpus") < 100
    return agged.crossJoin(F.broadcast(counts)).select(
        "n_queries",
        "n_exact_pairs",
        (F.col("_lsh_ok") | small).alias("lsh_recall_ok"),
        (F.col("_ivf_ok") | small).alias("ivf_recall_ok"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@register(
    "q_text_wordcount",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 50
    """,
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenize → explode → count: the canonical text-analysis shape with a
    deterministic top-50 (count desc, word asc)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
    )


@register(
    "q_text_stats",
    oracle="""
    SELECT
      lang,
      count(*)                                                   AS n_docs,
      round(avg(n_chars), 4)                                     AS avg_chars,
      round(avg(len(string_split(text, ' '))), 4)                AS avg_words,
      CAST(max(n_chars) AS BIGINT)                               AS max_chars,
      CAST(min(n_chars) AS BIGINT)                               AS min_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: doc counts and char/word-length
    aggregates."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_words"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
    )


@register(
    "q_text_langid",
    oracle=f"""
    SELECT
      doc_id,
      lang,
      round(CAST(len(list_filter({ts.words_sql("text")},
                 w -> lower(w) IN {_STOPWORD_SQL})) AS DOUBLE)
            / len({ts.words_sql("text")}), 4)                    AS stopword_ratio,
      CASE WHEN CAST(len(list_filter({ts.words_sql("text")},
                 w -> lower(w) IN {_STOPWORD_SQL})) AS DOUBLE)
            / len({ts.words_sql("text")}) >= 0.05
           THEN 'en' ELSE 'other' END                             AS lang_guess
    FROM documents
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID heuristic: function-word density ≥ 5% →
    'en'. (On this synthetic corpus the signal is mechanical, not
    linguistic — the operator shape is what scales.)"""
    d = load_table(spark, sf_dir, "documents")
    ratio = ts.stopword_ratio("text")
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio, 4).alias("stopword_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("other").alias("lang_guess"),
    )


@register(
    "q_text_quality",
    oracle=f"""
    WITH {quality_scored_cte('doc_id')}
    SELECT doc_id, quality FROM scored
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length / punctuation / stopword / word-shape
    components) — functions/textstats.py, reproduced exactly by the oracle."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.round(ts.quality_score("text"), 4).alias("quality"))


@register(
    "q_quality_gopher",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             coalesce(text, '') AS txt,
             {ts.words_sql("coalesce(text, '')")} AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
             AS BIGINT) AS total_chars,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
             AS BIGINT) AS n_alpha_words,
        CAST(length(txt) - length(replace(txt, '#', ''))
             + (length(txt) - length(replace(txt, '...', ''))) // 3
             AS BIGINT) AS n_symbols,
        CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(toks, 'a')   THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(toks, 'of')  THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(toks, 'to')  THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(toks, 'in')  THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(toks, 'is')  THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(toks, 'it')  THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(toks, 'for') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(toks, 'on')  THEN 1 ELSE 0 END)
             AS BIGINT) AS n_stopwords
      FROM t
    )
    SELECT doc_id, n_words,
      n_words BETWEEN 50 AND 100000                          AS ok_word_count,
      n_words > 0 AND 3 * n_words <= total_chars
                  AND total_chars <= 10 * n_words            AS ok_mean_word_len,
      n_words > 0 AND 5 * n_alpha_words >= 4 * n_words       AS ok_alpha_words,
      10 * n_symbols <= n_words                              AS ok_symbol_ratio,
      n_stopwords >= 2                                       AS ok_stopwords,
      (n_words BETWEEN 50 AND 100000)
        AND (n_words > 0 AND 3 * n_words <= total_chars
                         AND total_chars <= 10 * n_words)
        AND (n_words > 0 AND 5 * n_alpha_words >= 4 * n_words)
        AND (10 * n_symbols <= n_words)
        AND (n_stopwords >= 2)                               AS keep
    FROM c
    """,
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filtering (Rae et al. 2021, public):
    per-document rule verdicts — word count in [50, 100000], mean word
    length in [3, 10], >= 80% of words contain an alphabetic character,
    symbol-to-word ratio ('#' or '...') <= 0.1, and >= 2 distinct
    English function words present — plus the conjunctive keep flag.
    The function-word list is the repo's EN_STOPWORDS (functions/
    textstats.py) rather than Gopher's exact eight: the synthetic corpus
    contains only 'the'/'a' from either list, and Gopher's would make the
    rule vacuously false corpus-wide (the mechanics are the point, as in
    q_text_langid). The
    rule-set filter is the standard first stage of a web-scale training
    pipeline, upstream of dedup (q_training_pipeline composes the same
    shape with a learned score).

    Every threshold compares in DIVISIONLESS integer math (3·n ≤ chars,
    5·alpha ≥ 4·n, 10·sym ≤ n) so the boundary document set is
    bit-identical across engines — no FP ratio ever exists to round.
    NULL text coalesces to '' (0 words) and fails the word-count rule
    deterministically.

    Scale: stateless per-row column expressions (split/filter/aggregate
    higher-order functions) — runs inside the parquet scan stage, no
    shuffle, no Python; at 100 TB this is a map-only pass."""
    d = load_table(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = ts.words(txt)
    n_words = F.size(toks).cast("long")
    total_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    hash_syms = F.length(txt) - F.length(F.regexp_replace(txt, "#", ""))
    ellipsis_syms = (
        (F.length(txt) - F.length(F.regexp_replace(txt, r"\.\.\.", ""))) / 3
    ).cast("long")
    n_symbols = (hash_syms.cast("long") + ellipsis_syms).cast("long")
    n_stop = sum(
        F.array_contains(toks, w).cast("long") for w in ts.EN_STOPWORDS
    ).cast("long")
    ok_word_count = (n_words >= 50) & (n_words <= 100000)
    ok_mean_len = (
        (n_words > 0) & (3 * n_words <= total_chars) & (total_chars <= 10 * n_words)
    )
    ok_alpha = (n_words > 0) & (5 * n_alpha >= 4 * n_words)
    ok_symbol = 10 * n_symbols <= n_words
    ok_stop = n_stop >= 2
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        ok_word_count.alias("ok_word_count"),
        ok_mean_len.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_words"),
        ok_symbol.alias("ok_symbol_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_word_count & ok_mean_len & ok_alpha & ok_symbol & ok_stop).alias(
            "keep"
        ),
    )


@register(
    "q_text_tokens",
    oracle=f"""
    SELECT
      doc_id,
      CAST(len({ts.words_sql("text")}) AS INTEGER)                          AS ws_tokens,
      CAST(len(regexp_extract_all(text, '{ts.BPE_ISH_PATTERN}')) AS INTEGER)
                                                                             AS bpe_ish_tokens
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and BPE-ish regex pre-tokenizer."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        ts.whitespace_tokens("text").cast("int").alias("ws_tokens"),
        ts.bpe_ish_tokens("text").cast("int").alias("bpe_ish_tokens"),
    )


@register(
    "q_text_fingerprint",
    oracle=f"""
    SELECT
      doc_id,
      CASE WHEN text IS NULL THEN NULL ELSE
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform({ts.words_sql("text")},
                         w -> CAST(length(w) + ascii(w) AS BIGINT))),
        (acc, v) -> (acc * 31 + v) % 1000000007
      ) END AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint — pure integer
    arithmetic so any engine reproduces it (functions/textstats.py)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", ts.word_fingerprint("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------
@register(
    "q_multimodal_bytes",
    oracle="""
    SELECT
      CASE WHEN doc_id % 3 = 0 THEN 'image/png'
           WHEN doc_id % 3 = 1 THEN 'audio/wav'
           ELSE 'video/mp4' END        AS media_type,
      count(*)                          AS n_docs,
      CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY 1
    """,
)
def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload + typed metadata, aggregated by media type —
    the column-plumbing half of the multimodal surface (pure expressions)."""
    d = load_table(spark, sf_dir, "documents")
    media = mm.attach_fake_media(d)
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("byte_len").cast("bigint").alias("total_bytes"),
    )


@register(
    "q_multimodal_features",
    oracle="""
    WITH media AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                  WHEN doc_id % 3 = 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END                  AS media_type,
             hex(encode(text))                          AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
      FROM documents
    ),
    summed AS (
      SELECT doc_id, media_type, byte_len,
             -- the stub decoder's byte sum, re-derived from the hex
             -- rendering (DuckDB has no byte accessor on blobs); empty
             -- payload sums to 0, NULL payload stays NULL
             CASE WHEN h IS NULL THEN NULL
                  ELSE CAST(coalesce(list_aggregate(
                         list_transform(generate_series(1, length(h) // 2),
                           i -> (strpos('0123456789ABCDEF',
                                        substr(h, 2 * i - 1, 1)) - 1) * 16
                              + (strpos('0123456789ABCDEF',
                                        substr(h, 2 * i, 1)) - 1)),
                         'sum'), 0) AS BIGINT)
             END AS byte_sum
      FROM media
    )
    SELECT doc_id, media_type, byte_len,
           CAST(64 + byte_sum % 512 AS INTEGER)          AS fake_width,
           CAST(64 + (byte_sum // 7) % 512 AS INTEGER)   AS fake_height,
           byte_sum % 1000003                            AS byte_sum_mod
    FROM summed
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads,
    with the decode step stubbed deterministically (operators/multimodal.py).
    Schema, batch shape, and partitioning are the real production plumbing.

    Upgraded from rows-only: the stub's pseudo-features are pure integer
    functions of the payload bytes, so the oracle re-derives them from
    the hex rendering of the same UTF-8 payload — the Python decode path
    (Arrow transport, NULL-payload propagation, int dtypes included) is
    hash-verified end-to-end, the strongest check available short of a
    real codec."""
    d = load_table(spark, sf_dir, "documents")
    return mm.extract_media_features(mm.attach_fake_media(d))


@register(
    "q_train_val_split",
    oracle="""
    WITH bucketed AS (
      SELECT
        lang, n_chars,
        (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
          AS bucket
      FROM documents
    )
    SELECT
      CASE WHEN bucket < 204 THEN 'train'
           WHEN bucket < 230 THEN 'val'
           ELSE 'test' END                                  AS split,
      lang,
      count(*)                                              AS n_docs,
      round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4)     AS avg_chars
    FROM bucketed
    GROUP BY 1, 2
    """,
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (~80/10/10) with
    per-split per-language stats — the assignment primitive of every
    training-data pipeline.

    The split key is the first md5 byte of the document id, NOT the id
    itself: hash splits stay uniform when ids are assigned sequentially
    per source (id-modulo splits leak acquisition order into the split)
    and re-derive identically on any engine or rerun. Spark and DuckDB
    produce the same lowercase md5 hex, so the oracle reconstructs the
    byte arithmetically. Pure expression + one map-side-combinable
    aggregate — embarrassingly parallel at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    split = (
        F.when(bucket < 204, F.lit("train"))
        .when(bucket < 230, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_chars"),
        )
    )


@register(
    "q_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {ts.words_sql("text")} AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(w) - 3),
               i -> array_to_string(w[i:i+4], ' ')))) AS shingle
      FROM toks
    ),
    eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    contaminated AS (
      SELECT DISTINCT s.doc_id
      FROM sh s JOIN eval_sh e USING (shingle)
      WHERE s.doc_id % 97 <> 0
    )
    SELECT d.doc_id, d.lang
    FROM documents d
    WHERE d.doc_id % 97 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: drop every training document that shares a
    word-5-gram shingle with the held-out eval slice (doc_id % 97 == 0) —
    the benchmark-leakage guard every serious training-data pipeline runs
    (the GPT-3/PaLM-style n-gram overlap rule).

    Shape: eval shingles are a distinct-set join key — the corpus side
    streams through one semi-join on the (small) eval shingle set, then an
    anti-join filters survivors. No pairwise comparison anywhere: cost is
    |corpus shingles| + |eval shingles|, both linear. The eval shingle set
    is unhinted (AQE broadcasts it while it fits; a 1000-doc eval set is
    a few MB of shingle hashes at any corpus scale).
    """
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    contaminated = contaminated_ids(d, is_eval)
    return (
        d.where(~is_eval)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang")
    )


# Shared between the Spark expression and the DuckDB oracle (same RE2/Java-
# compatible subset: character classes + bounded repetition only).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?\d[\d -]{7,}\d"

_PII_DOCS = [
    (1, "contact me at alice.smith@example.com or +48 123 456 789"),
    (2, "no pii here, just text"),
    (3, "dual: bob@corp.io and carol@corp.io plus 555-123-4567"),
    (4, "edge: phone 12 34 is too short, fake@ is not an email"),
]
_PII_VALUES = ",\n      ".join(f"({i}, '{t}')" for i, t in _PII_DOCS)


@register(
    "q_pii_scrub",
    oracle=f"""
    WITH raw(doc_id, text) AS (VALUES
      {_PII_VALUES}
    )
    SELECT
      doc_id,
      regexp_replace(
        regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
        '{_PHONE_RE}', '<PHONE>', 'g')                       AS scrubbed,
      CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
      CAST(len(regexp_extract_all(
        regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
        '{_PHONE_RE}')) AS INTEGER)                          AS n_phones
    FROM raw
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over adversarial literals: emails then phone numbers
    replaced with typed placeholders, with per-row redaction counts — the
    scrub stage every compliance-bound training pipeline runs before
    tokenization. Email substitution runs FIRST in both engines so the
    phone pass can never re-match digits inside an already-redacted span.
    Pure regexp_replace/regexp_extract_all expressions — codegen'd, no
    Python in the path, embarrassingly parallel over any corpus.
    """
    from e2e_etl_pipeline_spark.catalog import inline_frame

    df = inline_frame(
        spark,
        [{"doc_id": i, "text": t} for i, t in _PII_DOCS],
        ["doc_id", "text"],
    )
    no_email = F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>")
    return df.select(
        "doc_id",
        F.regexp_replace(no_email, _PHONE_RE, "<PHONE>").alias("scrubbed"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(no_email, F.lit(_PHONE_RE), 0)).alias(
            "n_phones"
        ),
    )


@register(
    "q_langid_confusion",
    oracle=f"""
    WITH guessed AS (
      SELECT
        lang,
        CASE WHEN CAST(len(list_filter({ts.words_sql("text")},
                   w -> lower(w) IN {_STOPWORD_SQL})) AS DOUBLE)
              / len({ts.words_sql("text")}) >= 0.05
             THEN 'en' ELSE 'other' END AS lang_guess
      FROM documents
    )
    SELECT
      lang,
      lang_guess,
      count(*) AS n_docs,
      CASE WHEN (lang_guess = 'en') = (lang = 'en')
           THEN 1 ELSE 0 END AS is_correct
    FROM guessed
    GROUP BY lang, lang_guess
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the corpus's
    ground-truth lang label — the self-evaluation every classifier-driven
    filter needs before it gates a training corpus (precision on 'en',
    leakage of non-en into the keep set).

    Scale: the per-doc guess is the same scan-stage expression as
    q_text_langid; the matrix is one grouped count over
    |langs|×|guesses| cells."""
    d = load_table(spark, sf_dir, "documents")
    ratio = ts.stopword_ratio("text")
    guessed = d.select(
        "lang",
        F.when(ratio >= 0.05, "en").otherwise("other").alias("lang_guess"),
    )
    return guessed.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.when(
            (F.col("lang_guess") == "en") == (F.col("lang") == "en"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_correct"),
    )


@register(
    "q_text_normalize",
    oracle="""
    SELECT
      doc_id,
      trim(regexp_replace(
             translate(nfc_normalize(text),
                       'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                       'abcdefghijklmnopqrstuvwxyz'),
             '[ \t\n\f\r]+', ' ', 'g'), ' ')
        AS norm_text,
      length(trim(regexp_replace(
             translate(nfc_normalize(text),
                       'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                       'abcdefghijklmnopqrstuvwxyz'),
             '[ \t\n\f\r]+', ' ', 'g'), ' ')) AS norm_len
    FROM documents
    WHERE doc_id < 500
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization — the first stage of every LLM-data prep
    pipeline: NFC canonical composition (é as one codepoint, not e+◌́),
    lowercasing, and ASCII-whitespace collapse to single spaces. Without
    NFC, byte-identical dedup (q_dedup_exact's xxhash64) misses
    visually-identical documents that differ only in composition form.

    Spark has no built-in Unicode normalizer, so this is the canonical
    legitimate pandas-UDF use: Arrow-batched `unicodedata.normalize` —
    one Python round-trip per ~10k-row batch, not per row, and the UDF is
    stateless so it parallelizes per-partition at any corpus size.

    Cross-engine parity is pinned operation-by-operation (the oracle and
    the UDF must agree on EVERY codepoint, not just the ones in today's
    testdata): (1) NFC first; (2) lowercase restricted to ASCII A-Z via
    `translate` — full-Unicode case mapping is engine-specific (DuckDB's
    utf8proc simple one-to-one mapping vs Python's full mapping, e.g.
    U+0130 → 'i'+U+0307 in Python but 'i' in utf8proc), so neither engine's
    `lower()` can be the contract; (3) whitespace collapse over RE2's ASCII
    `\\s` class ([ \\t\\n\\f\\r]); (4) trim of SPACES only (DuckDB `trim`
    strips spaces; Python mirrors with `.strip(' ')`) applied AFTER the
    collapse, so edge tabs/newlines — already collapsed to spaces — strip
    identically. doc_id < 500 bounds the driver-compared payload; the
    operator itself is scan-shaped (zero exchanges).
    """
    import re
    import unicodedata

    ws = re.compile(r"[ \t\n\f\r]+")
    ascii_lower = str.maketrans(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
    )

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: ws.sub(
                " ", unicodedata.normalize("NFC", t).translate(ascii_lower)
            ).strip(" ")
            if t is not None
            else None
        )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    # Invoke the UDF once per row; derive the length from the aliased
    # column in a second select (halves the Python/Arrow round-trips).
    return d.select("doc_id", _norm(F.col("text")).alias("norm_text")).select(
        "doc_id", "norm_text", F.length("norm_text").alias("norm_len")
    )


@register(
    "q_dedup_incremental",
    oracle="""
    WITH batch AS (
      SELECT doc_id + 1000000 AS doc_id, text, lang, 'recrawl' AS source
      FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text || ' [updated]' AS text, lang,
             'fresh' AS source
      FROM documents WHERE doc_id % 50 = 7
    ),
    not_in_corpus AS (
      SELECT b.* FROM batch b
      WHERE NOT EXISTS (
        SELECT 1 FROM documents d WHERE d.text IS NOT DISTINCT FROM b.text
      )
    ),
    first_wins AS (
      SELECT doc_id, text, lang, source,
             min(doc_id) OVER (PARTITION BY text) AS survivor
      FROM not_in_corpus
    )
    SELECT doc_id, lang, source, length(text) AS n_chars
    FROM first_wins WHERE doc_id = survivor
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (snapshot-over-snapshot) dedup — the production shape:
    a new crawl batch is deduplicated against the EXISTING corpus without
    rescanning it, then within itself (first-wins on doc_id). The batch
    here is built deterministically from the corpus: 10%-of-sources
    re-crawled verbatim (must all drop) plus genuinely new revisions
    (must all survive).

    Scale story (generalizes operators/dedup.py's exact-dedup design,
    reference parity: extract_data.py:194-197's insert-if-absent, done
    corpus-scale): the historical corpus contributes only an 8-byte
    xxhash64 digest index — maintained incrementally in practice, never
    recomputed — and the anti-join shuffles |batch| digests, not corpus
    bodies. Within-batch survivor selection is a digest-grouped min
    (map-side combinable). Work is O(|new batch|) regardless of corpus
    size; the corpus-side scan reads the text column once to hash it and
    ships nothing else. Digest collisions are accepted as in
    q_dedup_exact (2^-64-scale risk; a verify-on-collide equality join on
    the tiny collided set is the belt-and-braces variant). The oracle
    expresses identical semantics over raw text.
    """
    d = load_table(spark, sf_dir, "documents")
    recrawl = (
        d.where(F.col("doc_id") % 50 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "text",
            "lang",
            F.lit("recrawl").alias("source"),
        )
    )
    fresh = (
        d.where(F.col("doc_id") % 50 == 7)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" [updated]")).alias("text"),
            "lang",
            F.lit("fresh").alias("source"),
        )
    )
    batch = recrawl.unionByName(fresh).withColumn("digest", F.xxhash64("text"))
    corpus_index = d.select(F.xxhash64("text").alias("digest")).distinct()
    novel = batch.join(corpus_index, "digest", "left_anti")
    survivors = novel.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    return (
        novel.join(survivors, ["digest", "doc_id"], "left_semi")
        .select("doc_id", "lang", "source", F.length("text").alias("n_chars"))
    )


@register(
    "q_multimodal_frames",
    oracle="""
    WITH media AS (
      SELECT doc_id, encode(text) AS payload,
             octet_length(encode(text)) AS n
      FROM documents
      WHERE doc_id % 3 = 2 AND text IS NOT NULL
    ),
    idx AS (SELECT unnest([0, 1, 2, 3]) AS frame_idx),
    frames AS (
      SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
             CAST((frame_idx * (n - 16)) // 3 AS BIGINT) AS frame_off,
             payload
      FROM media CROSS JOIN idx
      WHERE n >= 16
      UNION ALL
      SELECT doc_id, 0, 0, payload FROM media WHERE n < 16
    )
    SELECT doc_id, frame_idx, frame_off,
           substr(hex(payload), CAST(frame_off * 2 + 1 AS INTEGER), 32) AS frame_hex
    FROM frames
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the video-typed binary payloads: 4 evenly-spaced
    16-byte windows per payload, hex-rendered. The stub "decode" is a plain
    byte-window read, so the DuckDB oracle reproduces every window from
    hex(payload) — the one multimodal key where the mapInPandas plumbing is
    hash-verified end to end, not just executed (companions:
    q_multimodal_bytes plumbing aggregate, q_multimodal_features stub
    decoder). Scale: payloads never shuffle — sampling runs where the
    bytes sit; output is k small rows per document."""
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 2) & F.col("text").isNotNull()
    )
    media = mm.attach_fake_media(d)
    return mm.sample_frames(media, k=4, width=16)


@register(
    "q_shuffle_order",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id
           ) AS BIGINT) AS pos
    FROM documents
    """,
)
def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: every document gets a global training
    position by ranking on md5(doc_id || ':' || seed) — the
    reproducible-global-shuffle primitive a training data loader needs
    (same corpus + same seed → same order on any engine or cluster; bump
    the seed per epoch for a fresh permutation). Hash-ordered, never
    rand(): the order re-derives from the data alone (the
    q_sample_stratified / q_train_val_split discipline), and md5 is
    byte-identical across engines, unlike xxhash64.

    Scale: the global rank is operators/ranks.py distributed_rank — a
    sampled range exchange on the (uniform) hash plus per-partition
    row_number, no single-partition sort (this key is the operator's
    oracle-checked string-key exercise). The hash's uniformity is exactly
    what makes the range exchange balanced at any corpus size."""
    from e2e_etl_pipeline_spark.operators.ranks import distributed_rank

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))).alias(
            "h"
        ),
    )
    ranked = distributed_rank(
        d, [F.asc_nulls_last("h"), F.asc("doc_id")], "pos"
    )
    return ranked.select("doc_id", "pos")


@register(
    "q_dedup_keep_best",
    oracle=f"""
    WITH normed AS (
      SELECT doc_id, lang, n_chars,
             trim(regexp_replace(text, '{ts.WS_RUN}', ' ', 'g'))
               AS norm
      FROM documents WHERE text IS NOT NULL
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY norm
               ORDER BY length(norm) DESC, n_chars DESC, doc_id
             ) AS rn
      FROM normed
    )
    SELECT doc_id, lang, n_chars
    FROM ranked WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor policy: documents that are equal after
    whitespace canonicalization dedupe to the HIGHEST-quality member
    (longest normalized text, then raw n_chars, then min doc_id) instead
    of the arbitrary-or-min-id survivor — the policy real training
    pipelines want, where near-identical crawls differ only in mangled
    whitespace and the cleanest copy should win.

    Scale: groups key on a 128-bit digest pair of the normalized text
    (two independently-seeded xxhash64 — 16 bytes through the shuffle,
    bodies stay put; the q_dedup_exact128 discipline, with the same
    collision story: a group merge needs a simultaneous 128-bit
    collision). The survivor is ONE max-struct aggregate — map-side
    combinable, a single exchange, no window over the corpus and no join:
    the ordering prefix (len, n_chars, -doc_id) is unique per group
    (doc_id is unique), so the trailing payload fields ride along without
    ever influencing the comparison. Whitespace runs are textstats.WS_RUN,
    the class both engines read alike. NULL-text docs are excluded on both sides (no
    content to canonicalize)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    norm = F.trim(F.regexp_replace("text", ts.WS_RUN, " "))
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.length(norm).alias("ln"),
        F.xxhash64(norm).alias("d1"),
        F.xxhash64(F.lit(1), norm).alias("d2"),
    )
    best = keyed.groupBy("d1", "d2").agg(
        F.max(
            F.struct(
                F.col("ln"),
                F.col("n_chars").alias("nc"),
                (-F.col("doc_id")).alias("nid"),
                F.col("lang").alias("lang"),  # payload: never compared
            )
        ).alias("b")
    )
    return best.select(
        (-F.col("b.nid")).alias("doc_id"),
        F.col("b.lang").alias("lang"),
        F.col("b.nc").alias("n_chars"),
    )
