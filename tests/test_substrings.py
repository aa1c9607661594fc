"""Duplicate-substring span semantics (Lee et al.-style exact dedup)."""

from __future__ import annotations

from web_content_extractor_spark.operators.substrings import (
    duplicate_spans,
    kgram_positions,
    remove_duplicate_spans,
    substring_dup_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _spans(df):
    return {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in df.collect()
    }


def test_kgram_positions_short_and_exact_length(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "a b c d"), (3, ""), (4, "   ")])
    rows = kgram_positions(docs, k=4).collect()
    # doc 1 (3 tokens) and docs 3/4 (0-1 tokens) emit nothing; doc 2
    # has exactly one 4-gram at start 0.
    assert [(r.doc_id, r.start, r.gram) for r in rows] == [(2, 0, "a b c d")]


def test_cross_doc_duplicate_span_found(spark):
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"  # one 8-gram
    docs = _docs(
        spark,
        [
            (1, f"pre1 {shared} post1"),
            (2, f"{shared} tail tail2 tail3"),
            (3, "none of these words repeat anywhere at all ok"),
        ],
    )
    got = _spans(duplicate_spans(docs, k=8))
    assert got == {(1, 1, 9, 8), (2, 0, 8, 8)}


def test_overlapping_windows_merge_to_maximal_span(spark):
    # 10 shared tokens => duplicated 8-gram starts {0,1,2} on doc 2
    # (offset +1 on doc 1) must merge into ONE maximal 10-token span.
    shared = " ".join(f"s{i}" for i in range(10))
    docs = _docs(spark, [(1, f"x {shared}"), (2, f"{shared} y z")])
    got = _spans(duplicate_spans(docs, k=8))
    assert got == {(1, 1, 11, 10), (2, 0, 10, 10)}


def test_adjacent_but_gapped_runs_stay_separate(spark):
    # Two shared 8-grams separated by > k unshared tokens: two spans.
    a = " ".join(f"a{i}" for i in range(8))
    b = " ".join(f"b{i}" for i in range(8))
    gap = " ".join(f"g{i}" for i in range(9))  # 9 > k - overlap
    docs = _docs(spark, [(1, f"{a} {gap} {b}"), (2, f"{a} q {b}")])
    got = _spans(duplicate_spans(docs, k=8))
    # doc 1: starts 0 and 17 (gap 17 > 0 + 8) -> two spans
    assert (1, 0, 8, 8) in got and (1, 17, 25, 8) in got
    # doc 2: starts 0 and 9; 9 > 0 + 8 -> also two spans, not merged
    assert (2, 0, 8, 8) in got and (2, 9, 17, 8) in got


def test_within_doc_repeat_counts_as_duplicate(spark):
    # Suffix-array semantics: a doc repeating its own 8-gram is a dup
    # even if no other doc shares it.
    g = " ".join(f"r{i}" for i in range(8))
    docs = _docs(
        spark,
        [(1, f"{g} mid1 mid2 mid3 mid4 mid5 mid6 mid7 mid8 mid9 {g}")]
    )
    got = _spans(duplicate_spans(docs, k=8))
    assert got == {(1, 0, 8, 8), (1, 17, 25, 8)}


def test_hash_keys_mode_matches_string_mode(spark):
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(4)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 60))))
        for i in range(80)
    ]
    docs = _docs(spark, rows)
    s1 = _spans(duplicate_spans(docs, k=3, hash_keys=False))
    s2 = _spans(duplicate_spans(docs, k=3, hash_keys=True))
    assert s1 == s2 and len(s1) > 0


def test_stats_cover_every_doc_and_union_length(spark):
    shared = " ".join(f"s{i}" for i in range(10))
    docs = _docs(
        spark,
        [
            (1, f"{shared} u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
            (2, f"{shared}"),
            (3, "totally unique words only here nothing repeats at all"),
            (4, ""),
        ],
    )
    stats = {r.doc_id: r for r in substring_dup_stats(docs).collect()}
    assert set(stats) == {1, 2, 3, 4}
    assert stats[1].n_tokens == 20 and stats[1].dup_tokens == 10
    assert abs(stats[1].dup_fraction - 0.5) < 1e-9
    assert stats[2].dup_tokens == 10 and abs(stats[2].dup_fraction - 1.0) < 1e-9
    assert stats[3].dup_tokens == 0 and stats[3].dup_fraction == 0.0
    assert stats[4].n_tokens <= 1 and stats[4].dup_tokens == 0


def test_remove_cuts_spans_and_passes_through_clean_docs(spark):
    shared = " ".join(f"s{i}" for i in range(10))
    docs = _docs(
        spark,
        [
            (1, f"pre {shared} post"),
            (2, f"{shared}"),
            (3, "totally unique words only here nothing repeats at all"),
            (4, ""),
        ],
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, k=8).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].clean_text == "pre post" and out[1].removed_tokens == 10
    assert out[2].clean_text == "" and out[2].removed_tokens == 10
    assert out[3].clean_text == (
        "totally unique words only here nothing repeats at all"
    ) and out[3].removed_tokens == 0
    assert out[4].removed_tokens == 0


def test_remove_differential_vs_python_reference(spark):
    """Randomized corpora: the cleaned text must equal tokens minus the
    reference span set, joined on single spaces."""
    import random

    rng = random.Random(41)
    vocab = [f"v{i}" for i in range(5)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(60)
    ]
    k = 3
    got = {
        r.doc_id: r
        for r in remove_duplicate_spans(
            _docs(spark, rows), k=k
        ).collect()
    }
    spans = {}
    for r in duplicate_spans(_docs(spark, rows), k=k).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for i, text in rows:
        ws = text.split()
        keep = [
            w
            for p, w in enumerate(ws)
            if not any(a <= p < b for a, b in spans.get(i, []))
        ]
        removed = sum(b - a for a, b in spans.get(i, []))
        assert got[i].clean_text == " ".join(keep), i
        assert got[i].removed_tokens == removed, i


def test_differential_vs_python_reference(spark):
    """Randomized corpora: spans must exactly match a direct Python
    implementation of the definition (dup k-gram positions, merged)."""
    import random

    def ref_spans(texts, k, min_count):
        from collections import Counter

        toks = {i: t.split() for i, t in texts.items()}
        grams = Counter()
        for ws in toks.values():
            for s in range(len(ws) - k + 1):
                grams[tuple(ws[s : s + k])] += 1
        out = set()
        for i, ws in toks.items():
            starts = [
                s
                for s in range(len(ws) - k + 1)
                if grams[tuple(ws[s : s + k])] >= min_count
            ]
            run = None
            for s in starts:
                if run and s <= run[1]:  # overlap/adjacent: s <= prev_end
                    run = (run[0], max(run[1], s + k))
                else:
                    if run:
                        out.add((i, run[0], run[1], run[1] - run[0]))
                    run = (s, s + k)
            if run:
                out.add((i, run[0], run[1], run[1] - run[0]))
        return out

    rng = random.Random(99)
    vocab = [f"v{i}" for i in range(6)]
    for trial in range(3):
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
            for i in range(60)
        ]
        texts = dict(rows)
        k = rng.choice([2, 3, 4])
        got = _spans(
            duplicate_spans(_docs(spark, rows), k=k)
        )
        assert got == ref_spans(texts, k, 2), (trial, k)
