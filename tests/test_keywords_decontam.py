"""Tests for benchmark decontamination and TF-IDF keyword extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from web_content_extractor_spark.operators import decontam, keywords


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# --- decontamination semantics --------------------------------------------


def test_source_docs_are_always_contaminated(spark):
    d = _docs(spark)
    snips = decontam.benchmark_snippets(d)
    pairs = decontam.contaminated_pairs(d, snips)
    # every snippet was lifted from its source doc, so (snippet_id,
    # snippet_id) must be present for each emitted snippet
    snip_ids = {r.snippet_id for r in snips.collect()}
    self_hits = {
        r.doc_id
        for r in pairs.where(F.col("doc_id") == F.col("snippet_id")).collect()
    }
    assert snip_ids and self_hits == snip_ids


def test_contaminated_pairs_match_substring_oracle(spark):
    """Every (doc, snippet) pair equals a brute-force Python substring
    scan over the same normalization (ASCII \\s only, like Java's)."""
    import re

    d = _docs(spark)
    snips = decontam.benchmark_snippets(d)
    got = {(r.doc_id, r.snippet_id)
           for r in decontam.contaminated_pairs(d, snips).collect()}
    ws = re.compile(r"\s+", re.ASCII)
    texts = {
        r.doc_id: ws.sub(" ", r.text.strip(" ")).lower()
        for r in d.select("doc_id", "text").collect() if r.text
    }
    pats = [(r.snippet_id, r.snippet) for r in snips.collect() if r.snippet]
    expected = {(did, sid) for did, t in texts.items() for sid, p in pats if p in t}
    assert got == expected and len(expected) > len(pats)


def test_contamination_report_rollup(spark):
    d = _docs(spark)
    snips = decontam.benchmark_snippets(d)
    rep = decontam.contamination_report(d, snips)
    rows = {r.doc_id: r for r in rep.collect()}
    pairs = decontam.contaminated_pairs(d, snips).collect()
    by_doc: dict[int, list[int]] = {}
    for r in pairs:
        by_doc.setdefault(r.doc_id, []).append(r.snippet_id)
    assert set(rows) == set(by_doc)
    for did, sids in by_doc.items():
        assert rows[did].n_hits == len(sids)
        assert rows[did].first_snippet_id == min(sids)


def test_normalization_case_and_whitespace(spark):
    docs = spark.createDataFrame(
        [(1, "The  Quick\tBrown fox"), (2, "nothing here"), (3, None)],
        "doc_id: bigint, text: string",
    )
    snips = spark.createDataFrame(
        [(100, "quick brown")], "snippet_id: bigint, snippet: string"
    )
    got = {(r.doc_id, r.snippet_id)
           for r in decontam.contaminated_pairs(docs, snips).collect()}
    assert got == {(1, 100)}


# --- tf-idf ----------------------------------------------------------------


def test_tfidf_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c c")],
        "doc_id: bigint, text: string",
    )
    out = keywords.tfidf_topk(docs, k=2)
    rows = {(r.doc_id, r.rank): r for r in out.collect()}
    # df: a->2, b->1, c->2; N=3; idf(x) = ln(4/(df+1)) + 1
    idf_a = math.log(4 / 3) + 1
    idf_b = math.log(4 / 2) + 1
    idf_c = math.log(4 / 3) + 1
    # doc 1: a tf=2 -> 2*idf_a ~ 2.575; b tf=1 -> idf_b ~ 1.693
    assert rows[(1, 1)].term == "a"
    assert abs(rows[(1, 1)].tfidf - round(2 * idf_a, 6)) < 1e-9
    assert rows[(1, 2)].term == "b"
    assert abs(rows[(1, 2)].tfidf - round(idf_b, 6)) < 1e-9
    # doc 2: tie on score (tf=1, same idf) -> term asc tie-break
    assert rows[(2, 1)].term == "a" and rows[(2, 2)].term == "c"
    # doc 3: only one distinct term
    assert rows[(3, 1)].term == "c" and rows[(3, 1)].tf == 3
    assert abs(rows[(3, 1)].tfidf - round(3 * idf_c, 6)) < 1e-9
    assert (3, 2) not in rows


def test_tfidf_ranks_dense_and_bounded(spark):
    out = keywords.tfidf_topk(_docs(spark), k=3)
    per_doc = (
        out.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
        .collect()
    )
    assert per_doc
    for r in per_doc:
        assert r.ranks == list(range(1, len(r.ranks) + 1))
        assert len(r.ranks) <= 3


# --- curation composition --------------------------------------------------


def test_curation_manifest_composition(spark):
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    out = {r.doc_id: r for r in entry.q_curation_manifest(spark, SF_DIR).collect()}
    d = _docs(spark)
    assert len(out) == d.count()
    for r in out.values():
        assert r.selected == (
            r.keep_quality and not r.is_duplicate and not r.is_contaminated
        )
    # snippet-source docs are contaminated by construction
    snips = decontam.benchmark_snippets(d)
    for sid in (x.snippet_id for x in snips.collect()):
        assert out[sid].is_contaminated and not out[sid].selected


# --- review-fix pins -------------------------------------------------------


def test_curation_manifest_null_text_doc_keeps_row(spark):
    from web_content_extractor_spark.plans.curation import curation_manifest

    good = " ".join(f"word{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, good), (2, None)], "doc_id: bigint, text: string"
    )
    snips = spark.createDataFrame(
        [(9, "zebra quagga")], "snippet_id: bigint, snippet: string"
    )
    got = {r.doc_id: r for r in curation_manifest(docs, snippets=snips).collect()}
    # the NULL-text doc must still get a verdict row: not a duplicate,
    # not contaminated, quality-dropped
    assert set(got) == {1, 2}
    r = got[2]
    assert (r.keep_quality, r.is_duplicate, r.is_contaminated, r.selected) == (
        False, False, False, False,
    )


def test_decontam_paths_agree_on_unicode_whitespace(spark):
    #   is NOT collapsed by the JVM's ASCII \s, so the snippet
    # with a plain space does not match
    docs = spark.createDataFrame(
        [(1, "foo bar baz")], "doc_id: bigint, text: string"
    )
    snips = spark.createDataFrame(
        [(7, "foo bar")], "snippet_id: bigint, snippet: string"
    )
    assert decontam.contaminated_pairs(docs, snips).count() == 0


def test_decontam_empty_snippet_matches_nothing(spark):
    docs = spark.createDataFrame(
        [(1, "anything at all")], "doc_id: bigint, text: string"
    )
    snips = spark.createDataFrame(
        [(7, "")], "snippet_id: bigint, snippet: string"
    )
    assert decontam.contaminated_pairs(docs, snips).count() == 0


# --- BPE pair counting -----------------------------------------------------


def test_bpe_pair_counts_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "low low lower"),
            (2, "Newest widest"),  # capitalized word is filtered out
            (3, "x a"),  # len-1 words contribute no pairs
        ],
        "doc_id int, text string",
    )
    rows = {
        r.pair: r
        for r in keywords.bpe_pair_counts(docs, top=100).collect()
    }
    # vocab: low x2, lower x1, widest x1 ("Newest" fails [a-z0-9]+)
    assert rows["lo"].cnt == 3  # 2x "low" + 1x "lower"
    assert rows["ow"].cnt == 3
    assert rows["we"].cnt == 1  # lo[we]r only
    assert rows["st"].cnt == 1  # wide[st]
    assert "ne" not in rows  # "Newest" dropped (uppercase)
    assert rows["lo"].left_sym == "l" and rows["lo"].right_sym == "o"
    # rank 1 must be the count-max with pair-text tie-break
    by_rank = sorted(rows.values(), key=lambda r: r.rank)
    assert by_rank[0].cnt >= by_rank[-1].cnt
    assert [r.rank for r in by_rank] == list(range(1, len(by_rank) + 1))


def test_bpe_pairs_weighted_by_word_frequency(spark):
    # "ab" occurring in 3 separate docs weighs 3, even though the
    # vocabulary holds one distinct word
    docs = spark.createDataFrame(
        [(i, "ab") for i in range(3)], "doc_id int, text string"
    )
    out = keywords.bpe_pair_counts(docs).collect()
    assert len(out) == 1
    assert out[0].pair == "ab" and out[0].cnt == 3 and out[0].rank == 1


def test_bpe_pairs_differential_python_reference(spark):
    import collections
    import random
    import re

    rng = random.Random(7)
    words = ["low", "lower", "newest", "widest", "ab", "a", "b2c", "zz", "Mix"]
    docs = [
        (i, " ".join(rng.choices(words, k=rng.randrange(0, 12))))
        for i in range(40)
    ]
    wc: collections.Counter = collections.Counter()
    for _, text in docs:
        for w in re.split(r"[ \t\n\x0b\f\r]+", text.strip()):
            if w and re.fullmatch(r"[a-z0-9]+", w) and len(w) >= 2:
                wc[w] += 1
    exp: collections.Counter = collections.Counter()
    for w, c in wc.items():
        for i in range(len(w) - 1):
            exp[w[i : i + 2]] += c
    out = {
        r.pair: r.cnt
        for r in keywords.bpe_pair_counts(
            spark.createDataFrame(docs, "doc_id int, text string"), top=10_000
        ).collect()
    }
    assert out == dict(exp)


class TestContaminationScores:
    def _mk(self, spark, rows, schema="doc_id long, text string"):
        return spark.createDataFrame(rows, schema)

    def test_hand_computed_fraction(self, spark):
        # doc 0: 10 tokens -> 8 distinct 3-grams; snippet 'c d e'
        # collides with exactly one -> frac 1/8
        docs = self._mk(spark, [(0, "a b c d e f g h i j")])
        snips = spark.createDataFrame(
            [(100, "c d e")], "snippet_id long, snippet string"
        )
        r = decontam.contamination_scores(docs, snips, n=3, tau=0.1).collect()[0]
        assert (r.n_grams, r.n_hit, r.frac, r.dirty) == (8, 1, 0.125, True)

    def test_long_snippet_contributes_all_its_grams(self, spark):
        # a 4-token snippet holds two 3-grams; both collide
        docs = self._mk(spark, [(0, "x x c d e f x x")])
        snips = spark.createDataFrame(
            [(1, "c d e f")], "snippet_id long, snippet string"
        )
        r = decontam.contamination_scores(docs, snips, n=3, tau=0.5).collect()[0]
        assert r.n_hit == 2 and r.dirty is False  # 2/6 < 0.5

    def test_short_doc_scores_zero_clean(self, spark):
        docs = self._mk(spark, [(0, "too short")])
        snips = spark.createDataFrame(
            [(1, "a b c")], "snippet_id long, snippet string"
        )
        r = decontam.contamination_scores(docs, snips, n=3).collect()[0]
        assert (r.n_grams, r.n_hit, r.frac, r.dirty) == (0, 0, 0.0, False)

    def test_rounded_tau_boundary_is_inclusive(self, spark):
        # frac = 1/8 with tau exactly 0.125 -> dirty (>= on rounded)
        docs = self._mk(spark, [(0, "a b c d e f g h i j")])
        snips = spark.createDataFrame(
            [(1, "c d e")], "snippet_id long, snippet string"
        )
        r = decontam.contamination_scores(docs, snips, n=3, tau=0.125).collect()[0]
        assert r.dirty is True

    def test_consistent_with_boolean_sweep(self, spark):
        # two one-directional invariants (full equivalence is NOT
        # generally true: a substring match need not be token-aligned,
        # e.g. 'xc d e f ...' contains the snippet but has no matching
        # token-boundary 8-gram)
        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        snips = decontam.benchmark_snippets(d)
        flagged = {
            r.doc_id for r in decontam.contaminated_pairs(d, snips).collect()
        }
        scored = {
            r.doc_id: r.n_hit
            for r in decontam.contamination_scores(d, snips, n=8).collect()
        }
        # (a) a gram hit IS a token-aligned substring of the normalized
        # text, so every scored doc must be substring-flagged
        hit_docs = {d_ for d_, h in scored.items() if h > 0}
        assert hit_docs and hit_docs <= flagged
        # (b) snippet SOURCE docs lifted their snippet from their own
        # token stream (token-aligned by construction) -> always hit
        sources = {r.snippet_id for r in snips.collect()}
        assert sources and all(scored[did] > 0 for did in sources)

    def test_unaligned_substring_flagged_but_not_gram_hit(self, spark):
        # pin the asymmetry the sweep-consistency test documents
        docs = spark.createDataFrame(
            [(0, "xc d e prefix-fused tokens")],
            "doc_id long, text string",
        )
        snips = spark.createDataFrame(
            [(1, "c d e")], "snippet_id long, snippet string"
        )
        assert decontam.contaminated_pairs(docs, snips).count() == 1
        r = decontam.contamination_scores(docs, snips, n=3).collect()[0]
        assert r.n_hit == 0
