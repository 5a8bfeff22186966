"""Behavioral coverage for the rows-only LLM-pipeline operators (SURVEY.md §7
watch-list #3): MinHash/LSH near-dup detection, SimHash hamming pairs, and
LSH ANN recall against the exact brute-force baseline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.operators import dedup as dd
from e2e_etl_pipeline_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again every single day"
    variant = base.replace("lazy", "sleepy")  # one-token edit → high Jaccard
    unrelated = "completely different content about distributed query engines and shuffles"
    rows = [(0, base), (1, variant), (2, unrelated), (3, base)]  # 3 == exact dup of 0
    return spark.createDataFrame(rows, "doc_id long, text string")


def _minhash_pairs(docs):
    """The chain the registered MinHash keys run (32 hashes, 8 bands):
    wide signatures → LSH banding → agreement estimate, as
    (id_a, id_b, est_jaccard)."""
    sums = dd.minhash_signature_vector(
        docs, "doc_id", "text", num_hashes=32, shingle_size=3
    )
    pairs = dd.lsh_candidate_pairs_vec(sums, num_hashes=32, bands=8)
    return dd.minhash_similarity_vec(sums, pairs, num_hashes=32)


def test_minhash_finds_near_dups(near_dup_docs):
    simdf = _minhash_pairs(near_dup_docs)
    found = {(r.id_a, r.id_b): r.est_jaccard for r in simdf.collect()}
    assert found.get((0, 3)) == 1.0  # exact dup → all minhashes agree
    assert (0, 1) in found and found[(0, 1)] > 0.3  # near dup candidate
    assert (0, 2) not in found or found[(0, 2)] < 0.3


def test_simhash_hamming(near_dup_docs, spark):
    fps = dd.simhash_fingerprints(near_dup_docs, "doc_id", "text")
    rows = {r.id: r.simhash for r in fps.collect()}
    assert rows[0] == rows[3]  # identical text → identical fingerprint
    ham_near = bin(rows[0] ^ rows[1]).count("1")
    ham_far = bin(rows[0] ^ rows[2]).count("1")
    assert ham_near < ham_far  # one-token edit is closer than unrelated text

    pairs = dd.simhash_near_pairs(fps, max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()}
    assert (0, 3) in got


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    # 20 queries × top-5 = 100 truth pairs (5 queries was too noisy to bound
    # meaningfully). Parameters match the registered q_similarity_lsh key:
    # 6 planes → 64 buckets (~8 vectors each — genuinely selective, unlike
    # 16 buckets whose candidate union approaches the corpus), 32 tables.
    # Measured 0.79 (sf0.01) / 0.84 (sf0.001).
    from e2e_etl_pipeline_spark.catalog import load_table

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.where(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(em, queries, k=5)
    approx = sim.lsh_bucketed_topk(em, queries, k=5, n_planes=6, n_tables=32)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # Bound sits ~0.2 under the measured values: the driver regenerates the
    # embedding corpus every round and recall is estimated from only 100
    # truth pairs, so an unlucky fresh corpus must not flake the gate.
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    # Parameters match the registered q_similarity_ivf key (16 centroids,
    # probe 2 → ~1/8 of the corpus scanned per query). Measured 0.81.
    from e2e_etl_pipeline_spark.catalog import load_table

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.where(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(em, queries, k=5)
    approx = sim.ivf_topk(em, queries, k=5, n_centroids=16, n_probe=2)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """HLL++ at rsd=0.02 must land within 6% (≈3σ) of the exact per-group
    distinct count — a quantitative bound, not just ran-without-error. The
    key itself now emits the 10% bound boolean (oracle-checked); this test
    keeps the tighter 6% on the raw estimate, which no longer reaches the
    key's output."""
    from e2e_etl_pipeline_spark.catalog import load_table
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["q_agg_approx_distinct"](spark, sf_dir).collect()
    assert rows and all(r.within_10pct for r in rows)
    stats = {
        r.l_linestatus: (r.apx, r.n)
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.approx_count_distinct("l_suppkey", 0.02).alias("apx"),
            F.countDistinct("l_suppkey").alias("n"),
        )
        .collect()
    }
    assert {r.l_linestatus for r in rows} == set(stats)
    for status, (apx, n_exact) in stats.items():
        rel_err = abs(apx - n_exact) / n_exact
        assert rel_err <= 0.06, (status, apx, n_exact, rel_err)


def test_dedup_near_recall_on_planted_pairs(spark):
    """q_dedup_near's pipeline (MinHash32 + 8-band LSH + est_jaccard≥0.5)
    against planted ground truth: 40 base documents each paired with a
    one-token-edit variant (true 3-shingle Jaccard ≥ ~0.8). Recall of the
    planted pairs must be ≥ 0.8, and no pair of unrelated base docs may
    surface — a recall/precision bound, not just ran-without-error."""
    import random

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(500)]
    rows = []
    truth = set()
    for i in range(40):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(30)]
        base_id, var_id = 2 * i, 2 * i + 1
        rows.append((base_id, " ".join(words)))
        edited = list(words)
        edited[15] = "EDITED"
        rows.append((var_id, " ".join(edited)))
        truth.add((base_id, var_id))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    found = {
        (r.id_a, r.id_b)
        for r in _minhash_pairs(docs)
        .where(F.col("est_jaccard") >= 0.5)
        .collect()
    }
    recall = len(found & truth) / len(truth)
    assert recall >= 0.8, f"planted-pair recall too low: {recall} ({len(found)} found)"
    # Unrelated random 30-token docs share essentially no 3-shingles:
    # any cross-pair (different base index) surfacing at ≥0.5 is a bug.
    cross = {(a, b) for (a, b) in found if a // 2 != b // 2}
    assert not cross, f"false near-dups across unrelated docs: {sorted(cross)[:5]}"


def test_content_digest_widths(spark):
    df = spark.createDataFrame([("abc",), ("abd",), ("abc",)], "t string")
    d64 = df.select(dd.content_digest("t", bits=64).alias("d")).distinct()
    d128 = df.select(dd.content_digest("t", bits=128).alias("d")).distinct()
    assert d64.count() == 2 and d128.count() == 2
    row = df.limit(1).select(dd.content_digest("t", bits=128).alias("d")).first()
    # The two 64-bit halves must be domain-separated, not copies.
    assert row.d.h1 != row.d.h2
    with pytest.raises(ValueError):
        dd.content_digest("t", bits=256)


def test_dup_span_audit_flags_planted_span(spark, sf_dir, monkeypatch):
    """A shared 8-word span across two docs must flag exactly those docs'
    sources; a doc with no shared span stays unflagged."""
    from e2e_etl_pipeline_spark.queries import llm as llm_q
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    span = "one two three four five six seven eight"
    rows = [
        (0, f"prefix {span} suffix alpha", "en", "sa", 1),
        (1, f"other start {span} tail words", "en", "sb", 1),
        (2, "totally unrelated text with many distinct words here", "en", "sb", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(llm_q, "load_table", lambda *_a, **_k: docs)
    out = {r.source: r for r in QUERIES["q_dup_span_audit"](spark, sf_dir).collect()}
    assert out["sa"].n_flagged == 1
    assert out["sb"].n_flagged == 1  # doc 1 flagged, doc 2 not
    assert out["sb"].flagged_share == 0.5


def test_connected_components_chains(spark):
    """Transitive clusters: 1-2, 2-3 chain plus an isolated 8-9 pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id_a long, id_b long"
    )
    comps = {r.id: r.component for r in dd.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_dedup_corpus_with_minhash_pairs(spark, near_dup_docs):
    """The full pipeline: MinHash pairs -> components -> surviving corpus."""
    strong = _minhash_pairs(near_dup_docs).where(F.col("est_jaccard") >= 0.9)
    deduped = dd.dedup_corpus(near_dup_docs, strong)
    kept = sorted(r.doc_id for r in deduped.select("doc_id").collect())
    # 0 and 3 are exact dups -> one survivor (0); 1 and 2 survive untouched
    assert kept == [0, 1, 2]


def test_exact_dedup_survivor_deterministic(spark):
    rows = [(5, "same text"), (2, "same text"), (9, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        df.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    got = {r.text: (r.keep_id, r.n_copies) for r in out.collect()}
    assert got["same text"] == (2, 2)
    assert got["other"] == (9, 1)


def _jaccard(sets, max_df=None) -> dict:
    return {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.set_jaccard_pairs(sets, max_df=max_df).collect()
    }


def test_jaccard_df_cutoff_blocks_hot_token_blowup(spark):
    """A token present in EVERY doc would alone emit n(n-1)/2 candidate
    rows; with max_df it must contribute none, while Jaccard values for
    surviving pairs stay exact (set sizes still count the hot token)."""
    shared = "common"  # appears in all docs
    rows = [(i, f"{shared} unique{i} extra{i}") for i in range(10)]
    rows += [(100, f"{shared} twin alpha"), (101, f"{shared} twin alpha beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = dd.word_sets(df, "doc_id", "text")

    cut = _jaccard(sets, max_df=5)
    # the 10 'unique' docs share ONLY the hot token -> no candidate rows
    assert all(a >= 100 and b >= 100 for a, b in cut)
    # the twin pair is found via its rare tokens, then verified against the
    # FULL sets: |{common,twin,alpha} ∩ {common,twin,alpha,beta}| = 3 of 4 —
    # the hot token is excluded from candidate gen but NOT from the verified
    # intersection, so the reported value is the exact 3/4
    assert cut[(100, 101)] == 0.75

    exact = _jaccard(sets)
    # without the cutoff every pair meets through the hot token
    assert len(exact) == (12 * 11) // 2
    # the cutoff drops pairs, never changes a kept pair's value
    assert {p: exact[p] for p in cut} == cut

    # The operator owns the set semantics: a repeated (id, element) row —
    # here a rare and a hot element — or a whole duplicated document must
    # not inflate set sizes, intersections or document frequencies.
    clean = [(r.id, r.element) for r in sets.collect()]
    dup_element = clean + [(100, "alpha"), (0, shared)]
    dup_document = clean + [r for r in clean if r[0] == 101]
    for dirty in (dup_element, dup_document):
        frame = spark.createDataFrame(dirty, "id long, element string")
        assert _jaccard(frame, max_df=5) == cut
        assert _jaccard(frame) == exact


def test_connected_components_logarithmic_rounds_on_path(spark):
    """A 100-node path graph is the adversarial diameter case for label
    propagation (O(diameter) rounds); the two-phase large-star/small-star
    rounds must converge in <= 2*log2(n) alternations (Kiveris et al.)."""
    import math

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    stats: dict = {}
    comps = {
        r.id: r.component
        for r in dd.connected_components(chain, stats=stats).collect()
    }
    assert set(comps.values()) == {0} and len(comps) == 100
    assert stats["rounds"] <= 2 * math.log2(100)


def test_connected_components_self_pair_labels_itself(spark):
    """A self-pair (x, x) carries no connectivity but its node must still
    appear in the output labeled as its own component."""
    pairs = spark.createDataFrame([(7, 7), (1, 2)], "id_a long, id_b long")
    comps = {r.id: r.component for r in dd.connected_components(pairs).collect()}
    assert comps == {7: 7, 1: 1, 2: 1}


def test_connected_components_raises_on_non_convergence(spark):
    """A path graph needs ~diameter rounds; with max_iters below that the
    operator must refuse to return wrong (split) components."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain, max_iters=2)
    comps = {r.id: r.component for r in dd.connected_components(chain).collect()}
    assert set(comps.values()) == {0}  # one component, min-label 0


def test_embedding_dedup_finds_planted_duplicates(spark, sf_dir):
    """Plant two exact-duplicate vectors into the corpus: the LSH-bucketed
    near-dup pass must pair them (cosine 1.0) — the semantic-dedup recall
    case the synthetic near-orthogonal corpus can't exercise."""
    from e2e_etl_pipeline_spark.catalog import load_table

    em = load_table(spark, sf_dir, "embeddings")
    v = em.where(F.col("vec_id") == 0).select("embedding").first()[0]
    planted = spark.createDataFrame(
        [(9001, v, 0), (9002, v, 0)],
        em.select("vec_id", "embedding", "label").schema,
    )
    corpus = em.unionByName(planted)
    # the shipped dedup configuration (q_dedup_embedding)
    pairs = sim.lsh_cosine_pairs(corpus, threshold=0.99, n_planes=5, n_tables=12)
    found = {(r.id_a, r.id_b): r.cosine for r in pairs.collect()}
    # identical vectors hash into identical buckets in every table
    assert (9001, 9002) in found


def test_hll_sketch_rollup_error_bounded(spark, sf_dir):
    """q_hll_sketch emits exact counts + a 10% bound boolean per rollup
    grain (region rows + the NULL-keyed grand total). Assert the rollup
    shape, the bound at every grain, and — since the estimate itself no
    longer reaches the output — recompute the region-grain HLL estimate
    here and hold it to the tighter 2% relative error."""
    from e2e_etl_pipeline_spark.catalog import load_table
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["q_hll_sketch"](spark, sf_dir).collect()
    assert len(rows) == 6  # 5 regions + grand total
    total = [r for r in rows if r.n_regionkey is None]
    regions = [r for r in rows if r.n_regionkey is not None]
    assert len(total) == 1 and len(regions) == 5
    assert total[0].exact_customers == sum(r.exact_customers for r in regions)
    assert total[0].n_nations == sum(r.n_nations for r in regions)
    assert all(r.within_10pct for r in rows)

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    est_rows = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("c_custkey")).alias("est"),
            F.countDistinct("c_custkey").alias("exact"),
        )
        .collect()
    )
    for r in est_rows:
        rel_err = abs(r.est - r.exact) / r.exact
        assert rel_err < 0.02, (r.n_regionkey, rel_err)


def test_text_normalize_output_is_canonical(spark, sf_dir):
    import unicodedata

    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()

    rows = QUERIES["q_text_normalize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        t = r.norm_text
        # The cross-engine contract is pinned to ASCII classes (see the
        # query docstring): collapse of [ \t\n\f\r]+, space-only trim,
        # A-Z→a-z lowercase. Assert exactly that, not Python's wider
        # full-Unicode strip()/lower() semantics.
        assert "  " not in t and t == t.strip(" ")
        assert not any("A" <= ch <= "Z" for ch in t)
        assert not any(ch in "\t\n\f\r" for ch in t)
        assert unicodedata.is_normalized("NFC", t)
        assert r.norm_len == len(t)


def test_incremental_dedup_drops_recrawls_keeps_fresh(spark, sf_dir):
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["q_dedup_incremental"](spark, sf_dir).collect()
    # Every verbatim re-crawl must be dropped; every revision must survive.
    assert rows and all(r.source == "fresh" for r in rows)
    assert len({r.doc_id for r in rows}) == len(rows)


def test_misra_gries_superset_guarantee(spark):
    """MG candidates must contain every item with freq > n/k even when the
    vocabulary exceeds the counter budget (decrement path), and emit at
    most k rows per partition."""
    from e2e_etl_pipeline_spark.operators.sketches import misra_gries_candidates

    # 400 x 'hot', 10 each of 60 cold items -> n = 1000, vocab 61 > k = 5
    rows = [("hot",)] * 400 + [(f"cold{i}",) for i in range(60) for _ in range(10)]
    df = spark.createDataFrame(rows, "token string").repartition(4)
    cands = misra_gries_candidates(df, "token", 5)
    items = {r.item for r in cands.collect()}
    assert "hot" in items  # freq 0.4 > 1/5
    per_part = (
        cands.groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    assert all(r["count"] <= 5 for r in per_part)


def test_heavy_hitters_matches_bruteforce(spark, sf_dir):
    """The sketch-pruned q_heavy_hitters result must equal the exact
    brute-force heavy-hitter set (superset guarantee + exact recount)."""
    from e2e_etl_pipeline_spark.queries.corpus import HH_K, _tokens
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    got = {(r.token, r.n_occ) for r in QUERIES["q_heavy_hitters"](spark, sf_dir).collect()}
    tok = _tokens(spark, sf_dir)
    total = tok.count()
    brute = {
        (r.token, r.n_occ)
        for r in tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") * HH_K > total)
        .collect()
    }
    assert got == brute


def test_shuffle_order_is_a_permutation_and_seed_stable(spark, sf_dir):
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()

    a = QUERIES["q_shuffle_order"](spark, sf_dir).collect()
    n = len(a)
    assert sorted(r.pos for r in a) == list(range(1, n + 1))
    b = QUERIES["q_shuffle_order"](spark, sf_dir).collect()
    assert {(r.doc_id, r.pos) for r in a} == {(r.doc_id, r.pos) for r in b}
    # a hash order is not the id order (vanishingly unlikely to collide)
    assert [r.pos for r in sorted(a, key=lambda r: r.doc_id)] != list(
        range(1, n + 1)
    )


def test_dedup_keep_best_prefers_longest_copy(spark):
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all
    import os, tempfile

    load_all()

    rows = [
        # three whitespace-variants of one doc; 11 is longest raw but the
        # NORMALIZED length ties — survivor = max n_chars then min doc_id
        (10, "the quick fox", "en", "web", 13),
        (11, "the  quick \t fox", "en", "web", 16),
        (12, " the quick fox ", "en", "web", 15),
        (20, "unique doc", "de", "web", 10),
        (21, None, "de", "web", 0),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            r.doc_id
            for r in QUERIES["q_dedup_keep_best"](spark, td).collect()
        }
    # normalized texts equal -> one survivor: n_chars 16 wins (doc 11);
    # NULL-text doc excluded; unique doc survives
    assert got == {11, 20}


def test_dedup_substring_covers_planted_span(spark, tmp_path):
    """A 10-word span shared by two documents must yield exactly one merged
    duplicated span of 10 covered tokens in each (3 gram starts: 8 + 1 + 1),
    and an all-unique document must report zeros."""
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    span = " ".join(f"shared{i}" for i in range(10))
    rows = [
        (0, " ".join(f"a{i}" for i in range(12)) + " " + span, "en", "s", 1),
        (1, span + " " + " ".join(f"b{i}" for i in range(12)), "en", "s", 1),
        (2, " ".join(f"c{i}" for i in range(30)), "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in QUERIES["q_dedup_substring"](spark, str(tmp_path)).collect()
    }
    for d in (0, 1):
        assert out[d].n_spans == 1
        assert out[d].n_covered == 10
        assert out[d].n_dup_starts == 3
    assert out[2].n_spans == 0 and out[2].n_covered == 0
    assert out[2].ok_span_coverage  # 0% covered
    assert not out[0].ok_span_coverage  # 10 of 22 tokens covered > 20%


def test_dedup_substring_invariants_random_corpus(spark, tmp_path):
    """Structural invariants of duplicated-span coverage on a seeded random
    corpus with planted repeats: coverage never exceeds the token count,
    every span covers at least 8 tokens (the gram width), dup starts are
    at least the span count, and the keep rule matches its definition."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]  # small vocab → natural repeats
    rows = []
    for doc_id in range(40):
        n = rng.randint(0, 60)
        rows.append(
            (doc_id, " ".join(rng.choice(vocab) for _ in range(n)), "en", "s", n)
        )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    out = QUERIES["q_dedup_substring"](spark, str(tmp_path)).collect()
    assert len(out) == 40
    for r in out:
        assert 0 <= r.n_covered <= r.n_tokens
        assert r.n_covered >= 8 * r.n_spans or r.n_spans == 0
        assert r.n_dup_starts >= r.n_spans
        assert r.ok_span_coverage == (r.n_covered * 5 <= r.n_tokens)


def test_token_shards_partition_the_corpus(spark, tmp_path):
    """Shard totals must partition the corpus exactly: doc and token sums
    over shards equal the corpus sums, shard ids are contiguous from 0,
    and every shard but the last crosses its 4096-token budget boundary
    (a shard closes only once the running total passes a multiple of
    4096)."""
    import random

    rng = random.Random(11)
    rows = []
    for doc_id in range(300):
        n = rng.randint(0, 400)
        rows.append(
            (doc_id, " ".join("tok" for _ in range(n)), "en", "s", n)
        )
    total_tokens = sum(r[4] for r in rows)
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    from e2e_etl_pipeline_spark.registry import QUERIES, load_all

    load_all()
    out = sorted(
        QUERIES["q_token_shards"](spark, str(tmp_path)).collect(),
        key=lambda r: r.shard_id,
    )
    assert sum(r.n_docs for r in out) == 300
    assert sum(r.total_tokens for r in out) == total_tokens
    assert [r.shard_id for r in out] == list(range(len(out)))
