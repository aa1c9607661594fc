"""Dedup + similarity operator tests over the driver's testdata tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from web_content_extractor_spark.operators import dedup_docs, similarity


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _dups_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog tonight"),  # near dup
        (4, "completely different content about spark partitions here"),
        (5, "The  Quick  Brown Fox jumps over the lazy dog today"),  # ws/case dup
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates(spark):
    res = {
        r.doc_id: (r.canonical_id, r.is_duplicate)
        for r in dedup_docs.exact_duplicates(_dups_df(spark)).collect()
    }
    assert res[1] == (1, False)
    assert res[2] == (1, True)
    assert res[5] == (1, True)  # whitespace+case normalized fingerprint
    assert res[3][1] is False and res[4][1] is False


def test_minhash_lsh_finds_near_dup(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_docs.minhash_lsh_pairs(
            _dups_df(spark), min_jaccard=0.3
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup caught
    assert not any(4 in p for p in pairs)  # unrelated doc not paired


def test_minhash_signature_stability(spark):
    s1 = dedup_docs.minhash_signatures(_dups_df(spark)).collect()
    s2 = dedup_docs.minhash_signatures(_dups_df(spark)).collect()
    assert {r.doc_id: r.signature for r in s1} == {
        r.doc_id: r.signature for r in s2
    }


def test_ngram_jaccard_exact(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_docs.ngram_jaccard_pairs(
            _dups_df(spark), min_jaccard=0.5
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # docs 1 & 3 share 7 of their 8-union 3-grams... (8 grams each, 7 shared)
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0


def test_simhash_exact_dup_same_hash(spark):
    sh = {r.doc_id: r.simhash for r in dedup_docs.simhash(_dups_df(spark)).collect()}
    assert sh[1] == sh[2]
    assert sh[1] != sh[4]
    dup = {
        r.doc_id: r.is_duplicate
        for r in dedup_docs.simhash_duplicates(_dups_df(spark)).collect()
    }
    assert dup[2] is True and dup[4] is False


def test_brute_force_topk_real_embeddings(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 3)
    res = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        sims = [r.cos_sim for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0001 <= s <= 1.0001 for s in sims)
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_topk_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    approx = similarity.lsh_topk(
        embeddings, queries, k=5
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # multi-table OR amplification: recall must be high, far above the
    # ~1% chance level of random bucketing
    assert recall >= 0.5, recall
    # approx hits must be genuinely high-cosine (no garbage)
    assert all(r.cos_sim >= -1.0 for r in approx)


def test_ivf_topk_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    approx = similarity.ivf_topk(
        embeddings, queries, k=5, n_centroids=16, nprobe=4
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing 4/16 cells must beat the 25% chance level decisively
    assert recall >= 0.5, recall
    # deterministic: same index, same answer
    again = similarity.ivf_topk(
        embeddings, queries, k=5, n_centroids=16, nprobe=4
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in again} == approx_set


def test_ivf_build_sampled_matches_distributed(spark, embeddings):
    # when the sample bound covers the whole table the driver-side
    # numpy trainer must walk the SAME Lloyd trajectory as the
    # distributed full-corpus path (same init, same update rule) —
    # equal centroids up to float summation order
    import numpy as np

    n = embeddings.count()
    sampled = similarity.ivf_build(embeddings, 16, 2, sample=n)
    full = similarity.ivf_build(embeddings, 16, 2, sample=None)
    np.testing.assert_allclose(
        np.asarray(sampled), np.asarray(full), rtol=0, atol=1e-9
    )


def test_ivf_topk_recall_holds_on_truncated_sample(spark, embeddings):
    # quantizer trained on a quarter sample: recall vs brute force must
    # still clear the same bar as the full-corpus build — the sample
    # changes the cells, not the probe/re-rank machinery.  (A sample
    # much below ~8 rows/centroid degrades the cells themselves:
    # probed 64 rows for 16 centroids -> recall 0.46 vs 0.60 here —
    # the usual k-means training floor, not a code path difference.)
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    n = embeddings.count()
    approx = similarity.ivf_topk(
        embeddings, queries, k=5, n_centroids=16, nprobe=4,
        sample=n // 4,
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(exact_set & approx_set) / len(exact_set) >= 0.5


def test_ivf_nprobe_full_equals_brute_force(spark, embeddings):
    # probing ALL cells degenerates to the exact search (modulo the
    # identical tie-break) — the IVF correctness anchor
    queries = embeddings.where(F.col("vec_id") < 3)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    full = similarity.ivf_topk(
        embeddings, queries, k=5, n_centroids=8, nprobe=8
    ).collect()
    assert {(r.query_id, r.neighbor_id, r.cos_sim) for r in full} == {
        (r.query_id, r.neighbor_id, r.cos_sim) for r in exact
    }


def test_embedding_near_duplicates_self_consistent(spark, embeddings):
    # duplicate vec 0 with a new id -> must be flagged at cos ~ 1
    v0 = embeddings.where("vec_id = 0")
    dup = v0.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    aug = embeddings.unionByName(dup)
    pairs = similarity.embedding_near_duplicates(aug, min_cos=0.999).collect()
    assert any(r.id_a == 0 and r.id_b == 100000 for r in pairs)


def test_ngram_jaccard_hot_gram_cut_and_plan(spark):
    # max_df skew guard: grams over the df cap are dropped via a
    # broadcast ANTI-join against the (tiny) hot set — never a broadcast
    # of the corpus-sized kept vocabulary (driver OOM at scale).
    common = "alpha beta gamma"  # one shared 3-gram in every doc
    docs = spark.createDataFrame(
        [(i, f"{common} unique{i} tail{i} end{i}") for i in range(8)]
        + [(100, "x y z w v u"), (101, "x y z w v u")],
        "doc_id long, text string",
    )
    out = dedup_docs.ngram_jaccard_pairs(docs, min_jaccard=0.5, max_df=5)
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    # 'alpha beta gamma' has df=8 > 5 -> cut; the i-docs share nothing
    # else, so only the exact-dup (100, 101) pair survives
    assert pairs == {(100, 101): 1.0}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_pq_topk_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    approx = similarity.pq_topk(
        embeddings, queries, k=5, m=16, n_codes=32, refine=8
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # iid-random embeddings are PQ's worst case (no cluster structure);
    # 32 codes x 16 subspaces + 8x re-rank still recovers nearly all
    # true neighbors (measured 0.98 on this table; floor leaves margin)
    assert recall >= 0.7, recall
    # deterministic: same sample, same codebooks, same answer
    again = similarity.pq_topk(
        embeddings, queries, k=5, m=16, n_codes=32, refine=8
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in again} == approx_set
    # re-ranked scores are EXACT cosines (not quantized estimates)
    exact_cos = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert r.cos_sim == exact_cos[(r.query_id, r.neighbor_id)]


def test_pq_refine_all_equals_brute_force(spark, embeddings):
    # refine*k >= corpus keeps every ADC candidate, so the exact
    # re-rank degenerates to brute force — the correctness anchor
    queries = embeddings.where(F.col("vec_id") < 3)
    n = embeddings.count()
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    full = similarity.pq_topk(
        embeddings, queries, k=5, m=8, n_codes=8, refine=(n // 5) + 1
    ).collect()
    assert {(r.query_id, r.neighbor_id, r.cos_sim) for r in full} == {
        (r.query_id, r.neighbor_id, r.cos_sim) for r in exact
    }


def test_pq_encode_codes_shape(spark, embeddings):
    books = similarity.pq_train(embeddings, m=8, n_codes=16, sample=256)
    assert books.shape == (8, 16, 8)  # 64-dim / 8 subspaces
    rows = similarity.pq_encode(embeddings, books).collect()
    assert len(rows) == embeddings.count()
    for r in rows[:20]:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)
        assert r.vnorm > 0.0


def test_ivfpq_topk_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    approx = similarity.ivfpq_topk(
        embeddings, queries, k=5, n_centroids=16, nprobe=4,
        m=16, n_codes=32, refine=8,
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # routing misses compound with quantization misses: the composed
    # recall floor sits between the ivf (>=0.5) and pq (>=0.7) floors
    assert recall >= 0.4, recall
    # deterministic repeat
    again = similarity.ivfpq_topk(
        embeddings, queries, k=5, n_centroids=16, nprobe=4,
        m=16, n_codes=32, refine=8,
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in again} == approx_set


def test_ivfpq_probe_all_refine_all_equals_brute_force(spark, embeddings):
    # nprobe = all cells AND refine >= corpus/k: both approximations
    # degenerate, so the composition must equal brute force exactly
    queries = embeddings.where(F.col("vec_id") < 3)
    n = embeddings.count()
    exact = similarity.brute_force_topk(embeddings, queries, k=5).collect()
    full = similarity.ivfpq_topk(
        embeddings, queries, k=5, n_centroids=8, nprobe=8,
        m=8, n_codes=8, refine=(n // 5) + 1,
    ).collect()
    assert {(r.query_id, r.neighbor_id, r.cos_sim) for r in full} == {
        (r.query_id, r.neighbor_id, r.cos_sim) for r in exact
    }


def test_pq_and_ivfpq_search_a_persisted_index(spark, embeddings, tmp_path):
    # build once, persist the codes table, search many: every query
    # batch gets the one-shot topk's rows at the same parameters
    def rows(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank, r.cos_sim) for r in df.collect()
        )

    pq = similarity.pq_index(embeddings, m=16, n_codes=32)
    ivfpq = similarity.ivfpq_index(embeddings, n_centroids=16, m=16, n_codes=32)
    for name, index in (("pq", pq), ("ivfpq", ivfpq)):
        index.codes.write.parquet(str(tmp_path / name))
        index.codes = spark.read.parquet(str(tmp_path / name))
    for lo in (0, 5):
        queries = embeddings.where(F.col("vec_id").between(lo, lo + 4))
        got = rows(similarity.pq_search(pq, embeddings, queries, k=5, refine=8))
        assert got and got == rows(
            similarity.pq_topk(
                embeddings, queries, k=5, m=16, n_codes=32, refine=8
            )
        )
        got = rows(
            similarity.ivfpq_search(
                ivfpq, embeddings, queries, k=5, nprobe=2, refine=4
            )
        )
        assert got and got == rows(
            similarity.ivfpq_topk(
                embeddings, queries, k=5, n_centroids=16, nprobe=2,
                m=16, n_codes=32, refine=4,
            )
        )
