"""BPE tokenizer training and corpus encoding.

The two halves of a production subword-tokenizer pipeline over a web
corpus (engine-added; the reference extracts links, not tokens — this
extends the text battery the same way vocab_topk/unigram_nll do):

- :func:`train_bpe` — learn ``n_merges`` byte-pair merges from the
  corpus, exactly the Sennrich et al. (2016) algorithm: aggregate a
  word-frequency table, then repeatedly merge the most frequent
  adjacent symbol pair.  **Scale split**: the corpus-sized work (one
  word groupBy with map-side partials) is distributed; the merge loop
  runs driver-side over the *vocabulary* (capped at ``MAX_VOCAB``
  rows) — the standard trainer structure,
  since pair statistics are fully determined by the word-freq dict
  and every real BPE trainer (subword-nmt, SentencePiece,
  HuggingFace) trains from exactly that dict.  At 100 TB the vocab
  table is still MBs: the driver never sees a document.

- :func:`encode_with_merges` — apply a learned merge table to every
  document, distributed: merges broadcast to executors (the merge
  table is KBs), ``mapInPandas`` Arrow batches, and a per-word encode
  cache (web text repeats words heavily — the cache turns per-token
  work into per-distinct-word work within each batch).

Determinism: merge ties break by (pair count desc, pair lexicographic
asc); encoding applies merges in learned-rank order (lowest rank
first), the canonical BPE application rule.  ``test_bpe.py`` pins the
trainer against an independent pure-Python reference and pins
``train → first merge == bpe_pair_counts rank 1`` so the iterative
path is anchored to the DuckDB-oracled pair-count query.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_content_extractor_spark.functions.text_quality import tokens

# end-of-word sentinel (subword-nmt convention); a printable marker
# keeps oracle/test material readable
EOW = "</w>"
# most frequent words the trainer collects to the driver
MAX_VOCAB = 100_000


def word_vocab(docs: DataFrame) -> DataFrame:
    """(w, cnt) word-frequency table of ``docs.text`` — the only
    corpus-sized stage.

    Same token cleaning as ``bpe_pair_counts`` (lowercase ``[a-z0-9]+``,
    length >= 2) so the two stay cross-checkable.  ``MAX_VOCAB`` bounds
    what the trainer collects (cnt-desc, word-asc — deterministic).
    """
    words = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    wc = (
        words.filter(F.col("w").rlike("^[a-z0-9]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    return wc.orderBy(F.desc("cnt"), F.asc("w")).limit(MAX_VOCAB)


def _pair_stats(vocab: dict[tuple[str, ...], int]) -> Counter:
    stats: Counter = Counter()
    for syms, cnt in vocab.items():
        for i in range(len(syms) - 1):
            stats[(syms[i], syms[i + 1])] += cnt
    return stats


def _merge_vocab(
    vocab: dict[tuple[str, ...], int], pair: tuple[str, str]
) -> dict[tuple[str, ...], int]:
    a, b = pair
    ab = a + b
    out: dict[tuple[str, ...], int] = {}
    for syms, cnt in vocab.items():
        merged: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                merged.append(ab)
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        out[tuple(merged)] = out.get(tuple(merged), 0) + cnt
    return out


def train_bpe(docs: DataFrame, n_merges: int = 50) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` merges from ``docs.text``; returns [(left,
    right, count), ...] in learned order.  Stops early when no pair
    occurs twice (merging singletons memorizes the corpus, standard
    trainer cutoff).
    """
    rows = word_vocab(docs).collect()
    # symbol sequences start as characters + end-of-word sentinel
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        syms = tuple(r.w) + (EOW,)
        vocab[syms] = vocab.get(syms, 0) + r.cnt
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        stats = _pair_stats(vocab)
        if not stats:
            break
        pair, cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((pair[0], pair[1], cnt))
        vocab = _merge_vocab(vocab, pair)
    return merges


def merges_table(spark: SparkSession, merges: list[tuple[str, str, int]]) -> DataFrame:
    """The learned merge table as a DataFrame (rank, left, right, cnt)
    — the artifact a training pipeline persists next to the corpus."""
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, left_sym string, right_sym string, cnt bigint",
    )


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> tuple[str, ...]:
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return tuple(syms)


def encode_with_merges(
    docs: DataFrame, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """(doc_id, n_words, n_subwords, compression) per document of
    ``docs`` (doc_id, text).

    Distributed application of the learned merges: the merge-rank dict
    rides into each executor via the mapInPandas closure (KBs); a
    per-batch word→encoding cache collapses repeated words, so cost is
    per *distinct* word per batch, not per token.  Words outside the
    trainer's clean-token set pass through as single unknown symbols
    (count 1) — the drop-not-fail analog for tokenization.
    """
    import re as _re

    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    clean = _re.compile(r"^[a-z0-9]+$")
    split = _re.compile(r"[ \t\n\x0b\f\r]+")
    id_field = docs.schema["doc_id"].dataType.simpleString()

    # cache bound: web text has effectively unbounded distinct-word
    # cardinality per partition, so an uncapped cross-batch cache is an
    # executor memory leak over the task lifetime; hit rates live
    # within a batch (Zipf), so resetting at the cap costs little
    max_cache = 1_000_000

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            if len(cache) > max_cache:
                cache = {}
            ids: list = []
            n_words: list[int] = []
            n_sub: list[int] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = [
                    w
                    for w in split.split((text or "").strip())
                    if w
                ]
                total = 0
                for w in words:
                    got = cache.get(w)
                    if got is None:
                        if clean.match(w) and len(w) >= 2:
                            got = len(_encode_word(w, ranks))
                        else:
                            got = 1  # unknown symbol passthrough
                        cache[w] = got
                    total += got
                ids.append(did)
                n_words.append(len(words))
                n_sub.append(total)
            yield pd.DataFrame(
                {"doc_id": ids, "n_words": n_words, "n_subwords": n_sub}
            )

    out_schema = f"doc_id {id_field}, n_words int, n_subwords int"
    enc = docs.select("doc_id", "text").mapInPandas(run, out_schema)
    return enc.select(
        "doc_id",
        "n_words",
        "n_subwords",
        F.when(
            F.col("n_subwords") > 0,
            F.round(F.col("n_words").cast("double") / F.col("n_subwords"), 6),
        ).alias("compression"),
    )
