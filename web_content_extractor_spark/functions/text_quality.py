"""Text-analysis column functions for training-data pipelines.

All pure Column algebra (JVM-side, codegen-friendly, no UDFs): token
counting, quality scoring, n-gram-heuristic language ID, and document
fingerprinting over a ``documents(doc_id, text, ...)`` table.  Each has
an ANSI-SQL equivalent (used as the DuckDB oracle in
``__spark_entry__.py``), so the formulas below deliberately stick to
portable primitives.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "und", "das", "ist", "von", "zu", "mit", "den", "nicht"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"],
}

# whitespace tokenization; BPE-ish subword estimate uses a regex over
# letter-runs / digit-runs / single punctuation marks
_WORD_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty-string-safe)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def subword_count(text: Column) -> Column:
    """BPE-ish token estimate: letter runs + digit runs + punctuation."""
    return F.size(F.regexp_extract_all(text, F.lit(_WORD_RE), F.lit(0)))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS["en"])))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(0.0)


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, punct / n).otherwise(0.0)


def quality_score(text: Column) -> Column:
    """0-100 heuristic: length band + English stopword presence - punct
    noise.

    Engine-defined (the reference's quality score, models.py:187-199,
    scores link inventories, not prose; this is its text-corpus
    analog): 50 * saturating length term + 50 * stopword term,
    penalized by punctuation density.
    """
    safe = F.coalesce(text, F.lit(""))  # NULL text scores 0, not NULL
    n_tok = token_count(safe).cast("double")
    length_term = F.least(n_tok / 100.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(safe) * 4.0, F.lit(1.0))
    noise = F.least(punct_ratio(safe) * 2.0, F.lit(1.0))
    return F.round(
        F.greatest(
            F.lit(0.0), (50.0 * length_term + 50.0 * stop_term) * (1.0 - noise)
        ),
        2,
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Stopword-profile hit counts per language."""
    toks = F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: F.length(t) > 0)

    def hits(sw: list[str]) -> Column:
        # closure factory keeps the HOF lambda unary (pyspark derives
        # lambda arity from the Python signature)
        return F.size(F.filter(toks, lambda t: t.isin(sw)))

    return {lang: hits(sw) for lang, sw in STOPWORDS.items()}


def detect_lang(text: Column) -> Column:
    """Argmax of the stopword profiles; 'und' when nothing matches.

    Deterministic tie-break: language order en > es > de > fr
    (strictly-greater comparison in that order).
    """
    scores = lang_scores(text)
    # fold right-to-left so earlier languages win ties
    langs = list(STOPWORDS)
    out = F.lit("und")
    for lang in reversed(langs):
        others = [scores[o] for o in langs if o != lang]
        is_max = (scores[lang] > 0) & (
            scores[lang] >= F.greatest(*others) if others else F.lit(True)
        )
        out = F.when(is_max, F.lit(lang)).otherwise(out)
    return out


def word_ngrams_all(text: Column, n: int) -> Column:
    """All word n-grams (non-distinct, lowercased) — repetition signals
    need occurrence counts, unlike the dedup shingles."""
    toks = tokens(F.lower(text))
    k = F.size(toks) - (n - 1)
    return F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_word_fraction(text: Column) -> Column:
    """Gopher-style repetition signal: fraction of token occurrences
    that are repeats of an earlier token (1 - distinct/total).  High
    values flag boilerplate/spam docs in a training-data sweep."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    return F.when(
        n > 0, 1.0 - F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(0.0)


def fingerprint(text: Column) -> Column:
    """Stable document fingerprint: md5 of the whitespace-normalized,
    lowercased text (the distributed analog of content-hash dedup keys).
    """
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


# --- winnowing (rolling-hash fingerprints, Schleimer et al. 2003) --------

WINNOW_B = 257  # polynomial base
WINNOW_K = 5  # char k-gram length
WINNOW_WINDOW = 4  # consecutive hashes per selection window
WINNOW_M = 2147483647  # 2^31 - 1
_POS_BITS = 20  # pos packed below the hash for deterministic arg-min


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprints of ``docs.text``: (doc_id, fp_pos,
    fp_hash), distinct.

    The standard local document fingerprinting scheme: hash every char
    k-gram (k = :data:`WINNOW_K`) with a polynomial hash, then from
    every ``window`` (:data:`WINNOW_WINDOW`) consecutive hashes select
    the minimal (hash, pos) pair — ties broken by position via packing
    pos into the low bits, so selection is fully deterministic and
    identical in the SQL oracle (the math is exact int64 on both
    sides).  Guarantee: any shared substring of
    length >= window+k-1 yields at least one shared fingerprint, which
    is what makes the fingerprint set a plagiarism/near-dup index.

    The per-doc kernel is one vectorized Arrow UDF (codepoints via a
    utf-32 view, shifted adds for the polynomial, sliding-window min,
    np.unique) returning packed fingerprints; the equivalent explode +
    5x substring/ascii + row window ran ~10x slower.  One narrow
    explode afterwards; distinct is the only shuffle, keyed (doc_id,
    fingerprint) — balanced at any scale.

    Positions pack into the low ``_POS_BITS`` bits, so per-document
    length is bounded at 2^20 chars; chunk longer documents upstream
    (fingerprints are local, so chunking at >= window+k-1 overlap
    preserves the guarantee).
    """
    @F.pandas_udf("array<bigint>")
    def _winnow(texts: pd.Series) -> pd.Series:
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        k, window = WINNOW_K, WINNOW_WINDOW
        out: list = []
        for t in texts:
            if not t or len(t) - (k - 1) < window:
                out.append([])
                continue
            codes = np.frombuffer(
                t.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
            ).astype(np.int64)
            n_pos = len(codes) - (k - 1)
            # positions pack into _POS_BITS low bits: beyond that the
            # pos would bleed into the hash bits and silently corrupt
            # fingerprints, so fingerprint only the first 2^20-1
            # positions (chunk longer docs upstream for full coverage)
            n_pos = min(n_pos, (1 << _POS_BITS) - 1)
            codes = codes[: n_pos + (k - 1)]
            h = np.zeros(n_pos, dtype=np.int64)
            for j in range(k):
                h += codes[j : n_pos + j] * (WINNOW_B ** (k - 1 - j))
            h %= WINNOW_M
            packed = h * (1 << _POS_BITS) + np.arange(1, n_pos + 1)
            sel = sliding_window_view(packed, window).min(axis=1)
            out.append(np.unique(sel))
        return pd.Series(out, dtype=object)

    return (
        docs.select("doc_id", F.explode(_winnow(F.col("text"))).alias("fp"))
        .select(
            "doc_id",
            F.col("fp").bitwiseAND(F.lit((1 << _POS_BITS) - 1)).alias("fp_pos"),
            F.shiftright(F.col("fp"), _POS_BITS).alias("fp_hash"),
        )
        .distinct()
    )


# --- C4/Gopher-style quality filter battery ------------------------------


def quality_signals(text: Column) -> dict[str, Column]:
    """The standard corpus-filter signals (C4, Raffel et al. 2020;
    Gopher, Rae et al. 2021) as pure Column algebra: word count, mean
    word length, symbol-to-word ratio, boilerplate markers.  NULL text
    behaves as empty (signals 0 / markers false)."""
    safe = F.coalesce(text, F.lit(""))
    toks = tokens(safe)
    n_words = F.size(toks)
    # sum of token lengths == non-whitespace char count (native, no
    # interpreted higher-order aggregate in the hot path)
    total_len = F.length(F.regexp_replace(safe, r"\s+", ""))
    n_symbols = F.length(safe) - F.length(
        F.regexp_replace(safe, r"[#\{\}\[\]<>\\]", "")
    )
    return {
        "n_words": n_words,
        "mean_word_len": F.when(
            n_words > 0, total_len.cast("double") / n_words
        ).otherwise(0.0),
        "symbol_word_ratio": F.when(
            n_words > 0, n_symbols.cast("double") / n_words
        ).otherwise(0.0),
        "has_lorem": F.lower(safe).contains("lorem ipsum"),
        "has_brace": safe.contains("{"),
    }


# Gopher keep bounds (Rae et al. 2021)
MIN_WORDS, MAX_WORDS = 50, 100000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MAX_SYMBOL_RATIO = 0.1


def quality_filter(text: Column) -> Column:
    """Gopher-rule keep/drop verdict: word-count band (50-100000),
    mean-word-length band (3-10 chars), symbol-ratio cap (0.1), no
    boilerplate markers."""
    s = quality_signals(text)
    return (
        (s["n_words"] >= MIN_WORDS)
        & (s["n_words"] <= MAX_WORDS)
        & (s["mean_word_len"] >= MIN_MEAN_WORD_LEN)
        & (s["mean_word_len"] <= MAX_MEAN_WORD_LEN)
        & (s["symbol_word_ratio"] <= MAX_SYMBOL_RATIO)
        & ~s["has_lorem"]
        & ~s["has_brace"]
    )


# --------------------------------------------------------------------------
# PII scrubbing
# --------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark, executes JVM-side in codegen) and RE2 (the DuckDB oracle):
# character classes, bounded repeats, alternation — no lookaround, no
# backreferences.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9]{7,15}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}
# replacement order matters: emails contain dots that the ipv4 pattern
# could otherwise chew on, and '+digits' inside an email local part
# would be masked as a phone — scrub emails first.
_PII_ORDER = ["email", "phone", "ipv4"]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (native regexp_extract_all, JVM-side)."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column) -> Column:
    """Mask each PII kind with ``<KIND>`` tokens, email -> phone -> ipv4.

    Pure chained regexp_replace — stays inside whole-stage codegen; the
    scan cost is one pass per pattern over the text, no Python.
    """
    out = text
    for kind in _PII_ORDER:
        out = F.regexp_replace(
            out, PII_PATTERNS[kind], f"<{kind.upper()}>"
        )
    return out


# --------------------------------------------------------------------------
# Text normalization (corpus cleaning)
# --------------------------------------------------------------------------


def clean_text(text: Column) -> Column:
    """Corpus-normalized text: Unicode NFC, control characters
    stripped, whitespace collapsed to single spaces, trimmed.

    NFC runs as a vectorized pandas UDF (``Series.str.normalize`` —
    there is no JVM builtin); the regex stages are native codegen.
    Pattern portability note: ``\\s`` differs between Java and RE2
    only at ``\\x0B``, which the control-strip removes first on both
    engines, so the DuckDB oracle (`nfc_normalize` + the same two
    regex replaces) is exactly equivalent.
    """
    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    no_ctl = F.regexp_replace(
        _nfc(text), r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""
    )
    return F.trim(F.regexp_replace(no_ctl, r"\s+", " "))
