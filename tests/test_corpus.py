"""Corpus-assembly semantics: shard shuffle, mixture sampling, packing."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from web_content_extractor_spark.operators.corpus import (
    mixture_sample,
    pack_token_stream,
    portable_hash,
    shard_corpus,
    train_val_test_split,
)


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias(
            "source"
        ),
    )


# ---------------------------------------------------------------------------
# shard_corpus
# ---------------------------------------------------------------------------


def test_shards_balanced_and_positions_dense(spark):
    out = shard_corpus(_docs(spark), n_shards=8, seed=3).collect()
    assert len(out) == 400
    by_shard = Counter(r.shard for r in out)
    assert set(by_shard) <= set(range(8))
    # uniform hash: no shard much over/under the 50-doc mean
    assert max(by_shard.values()) < 100 and min(by_shard.values()) > 20
    for s, n in by_shard.items():
        poss = sorted(r.shard_pos for r in out if r.shard == s)
        assert poss == list(range(n))  # dense 0..n-1 training order


def test_shard_determinism_and_seed_sensitivity(spark):
    d = _docs(spark)
    a = sorted((r.doc_id, r.shard, r.shard_pos)
               for r in shard_corpus(d, 8, seed=3).collect())
    b = sorted((r.doc_id, r.shard, r.shard_pos)
               for r in shard_corpus(d, 8, seed=3).collect())
    assert a == b  # rerun-identical
    c = dict(
        (r.doc_id, r.shard) for r in shard_corpus(d, 8, seed=4).collect()
    )
    moved = sum(1 for doc_id, shard, _ in a if c[doc_id] != shard)
    assert moved > 200  # a new seed is a real reshuffle (~7/8 move)


# ---------------------------------------------------------------------------
# mixture_sample
# ---------------------------------------------------------------------------


def _rates(spark, pairs):
    return spark.createDataFrame(pairs, "source string, rate double")


def test_mixture_rates_respected(spark):
    d = _docs(spark, n=2000)
    rates = _rates(
        spark,
        [("src0", 0.0), ("src1", 0.25), ("src2", 1.0)],  # src3 missing
    )
    kept = Counter(
        r.source for r in mixture_sample(d, rates, seed=9).collect()
    )
    assert kept["src0"] == 0 and "src3" not in kept  # rate 0 == missing
    assert kept["src2"] == 500  # rate 1 keeps everything
    assert 75 <= kept["src1"] <= 175  # ~125 expected at rate 0.25


def test_mixture_monotone_in_rate(spark):
    # keep iff u < rate: raising a rate only ever adds docs
    d = _docs(spark, n=1000)
    low = {
        r.doc_id
        for r in mixture_sample(
            d, _rates(spark, [("src0", 0.3)]), seed=5
        ).collect()
    }
    high = {
        r.doc_id
        for r in mixture_sample(
            d, _rates(spark, [("src0", 0.7)]), seed=5
        ).collect()
    }
    assert low <= high and len(low) < len(high)


# ---------------------------------------------------------------------------
# pack_token_stream
# ---------------------------------------------------------------------------


def test_pack_hand_case(spark):
    chunks = spark.createDataFrame(
        [(1, 0, 10, 0), (1, 1, 10, 0), (1, 2, 10, 0), (2, 0, 5, 1)],
        "doc_id long, chunk_id long, n_tokens long, shard long",
    )
    out = {
        (r.doc_id, r.chunk_id): (r.pack_id, r.pack_offset)
        for r in pack_token_stream(
            chunks, budget=16, order_cols=("doc_id", "chunk_id")
        ).collect()
    }
    # shard 0 stream: before = 0, 10, 20 -> packs 0@0, 0@10, 1@4
    assert out[(1, 0)] == (0, 0)
    assert out[(1, 1)] == (0, 10)
    assert out[(1, 2)] == (1, 4)
    # shard 1 starts its own stream
    assert out[(2, 0)] == (0, 0)


def test_pack_offsets_consistent(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, j, rng.randint(1, 40), i % 3)
        for i in range(50)
        for j in range(rng.randint(1, 4))
    ]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, n_tokens long, shard long"
    )
    out = pack_token_stream(
        chunks, budget=64, order_cols=("doc_id", "chunk_id")
    ).collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id, r.chunk_id)):
        before = by_shard.get(r.shard, 0)
        assert r.pack_id == before // 64
        assert r.pack_offset == before % 64
        by_shard[r.shard] = before + r.n_tokens


# ---------------------------------------------------------------------------
# portable hash
# ---------------------------------------------------------------------------


def test_portable_hash_matches_python(spark):
    M31, m1, m2 = 2147483647, 2654435761, 48271

    def ref(x, seed):
        return ((x + seed) * m1) % M31 * m2 % M31

    got = (
        spark.range(100)
        .select(portable_hash(F.col("id"), seed=13).alias("h"))
        .collect()
    )
    assert [r.h for r in got] == [ref(i, 13) for i in range(100)]


# ---------------------------------------------------------------------------
# token_budget_sample
# ---------------------------------------------------------------------------


def test_token_budget_keeps_hash_prefix_and_boundary_doc(spark):
    from web_content_extractor_spark.operators.corpus import (
        portable_hash,
        token_budget_sample,
    )

    docs = spark.createDataFrame(
        [(i, "web", 60) for i in range(10)]
        + [(100 + i, "code", 1000) for i in range(3)],
        "doc_id long, source string, n_tokens long",
    )
    budgets = spark.createDataFrame(
        [("web", 200), ("code", 1)], "source string, token_budget long"
    )
    kept = token_budget_sample(docs, budgets).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, []).append(r.doc_id)
    # web: 60-token docs against budget 200 -> before < 200 admits the
    # first FOUR docs in hash order (0,60,120,180 all < 200; doc 4
    # starts at 240)
    assert len(by_src["web"]) == 4
    # the kept set is exactly the 4 lowest hash values
    hs = {
        r.doc_id: r.h
        for r in docs.where("source = 'web'")
        .select("doc_id", portable_hash(F.col("doc_id"), 2).alias("h"))
        .collect()
    }
    expect = sorted(hs, key=lambda d: (hs[d], d))[:4]
    assert sorted(by_src["web"]) == sorted(expect)
    # code: budget 1 still admits the boundary (first) doc
    assert len(by_src["code"]) == 1


def test_token_budget_layout_independent_and_source_filtered(spark):
    from web_content_extractor_spark.operators.corpus import (
        token_budget_sample,
    )

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", 10 + i % 5) for i in range(200)],
        "doc_id long, source string, n_tokens long",
    )
    budgets = spark.createDataFrame(
        [("s0", 150), ("s1", 10_000)], "source string, token_budget long"
    )
    a = sorted(r.doc_id for r in token_budget_sample(docs, budgets).collect())
    b = sorted(
        r.doc_id
        for r in token_budget_sample(docs.repartition(17), budgets).collect()
    )
    assert a == b
    srcs = {r.source for r in token_budget_sample(docs, budgets).collect()}
    assert srcs == {"s0", "s1"}  # s2 has no budget -> dropped entirely
    # s1's budget exceeds its corpus -> everything from s1 kept
    n_s1 = sum(1 for r in token_budget_sample(docs, budgets).collect()
               if r.source == "s1")
    assert n_s1 == docs.where("source = 's1'").count()


# --- train/val/test split ----------------------------------------------------


def test_split_partitions_and_percentages(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(5000)], "doc_id long"
    )
    out = train_val_test_split(docs, val_pct=2, test_pct=3).collect()
    by = Counter(r.split for r in out)
    assert by["val"] + by["test"] + by["train"] == 5000
    # uniform hash: expect ~2% val, ~3% test (loose band)
    assert 0.01 <= by["val"] / 5000 <= 0.04
    assert 0.015 <= by["test"] / 5000 <= 0.05
    for r in out:
        want = "val" if r.bucket < 2 else ("test" if r.bucket < 5 else "train")
        assert r.split == want


def test_split_is_content_independent_and_stable(spark):
    a = spark.createDataFrame(
        [(i, f"text v1 {i}") for i in range(300)], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(i, f"REWRITTEN {i}!") for i in range(300)], "doc_id long, text string"
    )
    sa = {r.doc_id: r.split for r in train_val_test_split(a).collect()}
    sb = {r.doc_id: r.split for r in train_val_test_split(b).collect()}
    # re-cleaning every document must not move any doc across splits
    assert sa == sb


def test_split_changes_with_seed(spark):
    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    s1 = {r.doc_id: r.split for r in
          train_val_test_split(docs, seed=7).collect()}
    s2 = {r.doc_id: r.split for r in
          train_val_test_split(docs, seed=8).collect()}
    assert s1 != s2


# ---------------------------------------------------------------------------
# string doc_ids (WARC source keys docs by URL): every corpus op must
# compose with non-integer ids — cast(string AS bigint) raises under
# ANSI mode and silently NULLs the hash without it (mixture_sample then
# drops every doc, shard_corpus degrades to one NULL bucket)
# ---------------------------------------------------------------------------


def _url_docs(spark, n=400):
    return spark.createDataFrame(
        [
            (f"https://h{i % 7}.example.org/p/{i}", f"src{i % 4}", 10 + i % 5)
            for i in range(n)
        ],
        "doc_id string, source string, n_tokens int",
    )


def test_shard_corpus_string_ids(spark):
    out = shard_corpus(_url_docs(spark), n_shards=8, seed=3).collect()
    assert len(out) == 400
    by_shard = Counter(r.shard for r in out)
    assert set(by_shard) <= set(range(8))
    assert min(by_shard.values()) > 20  # uniform, not one NULL bucket
    for s, n in by_shard.items():
        poss = sorted(r.shard_pos for r in out if r.shard == s)
        assert poss == list(range(n))


def test_mixture_sample_string_ids(spark):
    docs = _url_docs(spark)
    rates = spark.createDataFrame(
        [("src0", 1.0), ("src1", 0.5), ("src2", 0.0)], "source string, rate double"
    )
    kept = mixture_sample(docs, rates, seed=1).collect()
    by_src = Counter(r.source for r in kept)
    assert by_src["src0"] == 100  # rate 1.0 keeps everything
    assert 25 <= by_src.get("src1", 0) <= 75  # ~rate 0.5
    assert "src2" not in by_src and "src3" not in by_src
    # deterministic rerun
    again = mixture_sample(docs, rates, seed=1).collect()
    assert sorted(r.doc_id for r in kept) == sorted(r.doc_id for r in again)


def test_token_budget_and_split_string_ids(spark):
    from web_content_extractor_spark.operators.corpus import (
        token_budget_sample,
    )

    docs = _url_docs(spark)
    budgets = spark.createDataFrame(
        [("src0", 120), ("src1", 50)], "source string, token_budget int"
    )
    kept = token_budget_sample(docs, budgets).collect()
    assert kept  # non-empty, no CAST_INVALID_INPUT
    by_src = Counter(r.source for r in kept)
    assert set(by_src) == {"src0", "src1"}
    splits = train_val_test_split(docs, val_pct=10, test_pct=10).collect()
    by_split = Counter(r.split for r in splits)
    assert by_split["train"] > by_split["val"] > 0
    assert by_split["test"] > 0


class TestPackInterleaved:
    def _spans(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, span_idx int, kind string, text string, "
                  "shard int"
        )

    def test_kind_aware_costs_and_straddle(self, spark):
        from web_content_extractor_spark.operators.corpus import (
            pack_interleaved,
        )

        spans = self._spans(
            spark,
            [
                (1, 0, "text", "a b c d", 0),        # 4 tokens
                (1, 1, "media", None, 0),             # 64 tokens
                (1, 2, "text", "e f", 0),             # 2 tokens
                (2, 0, "media", "ignored words", 0),  # media cost wins: 64
                (3, 0, "text", "", 0),                # empty -> 0
                (3, 1, "text", "   ", 0),             # whitespace -> 0
            ],
        )
        out = {
            (r.doc_id, r.span_idx): r
            for r in pack_interleaved(spans, budget=64).collect()
        }
        assert out[(1, 0)].n_tokens == 4
        assert out[(1, 1)].n_tokens == 64
        assert out[(2, 0)].n_tokens == 64  # text on a media span ignored
        assert out[(3, 0)].n_tokens == 0 and out[(3, 1)].n_tokens == 0
        # doc 1's media span starts at token 4 -> straddles pack 0/1,
        # assigned to the pack its FIRST token lands in
        assert (out[(1, 1)].pack_id, out[(1, 1)].pack_offset) == (0, 4)
        assert (out[(1, 2)].pack_id, out[(1, 2)].pack_offset) == (1, 4)

    def test_shards_pack_independently(self, spark):
        from web_content_extractor_spark.operators.corpus import (
            pack_interleaved,
        )

        spans = self._spans(
            spark,
            [(i, 0, "media", None, i % 2) for i in range(6)],
        )
        out = pack_interleaved(spans, budget=128).collect()
        per_shard = {}
        for r in out:
            per_shard.setdefault(r.shard, []).append(
                (r.doc_id, r.pack_id, r.pack_offset)
            )
        for shard, rows in per_shard.items():
            rows.sort()
            # 3 media spans x 64 tokens into 128-token packs per shard
            assert [(p, o) for _, p, o in rows] == [(0, 0), (0, 64), (1, 0)]
