"""Corpus deduplication operators for training-data pipelines.

Four tiers, all designed around their shuffle profile at 100 TB:

- exact        — one balanced shuffle on a 256-bit content hash; no
                 skew possible (hash keys are uniform).
- minhash_lsh  — shingle/hash/permute-min in ONE vectorized Arrow
                 kernel (interpreted JVM higher-order expressions
                 benched ~30x slower — HOFs don't codegen); banding is
                 native Columns; candidate generation is an id-only
                 equi-join on (band, band_hash) buckets, so cost is
                 bounded by bucket collisions rather than n^2, and the
                 wide signature arrays never ride the banding shuffle.
- simhash      — tokenize + 64-bit hash + per-bit segment-reduce in
                 one Arrow kernel; near-dup candidates pair up via
                 identical simhash (Hamming-0 buckets) or the Manku
                 et al. pigeonhole band join (Hamming <= k without an
                 all-pairs comparison, `hamming_near_duplicates`).
- ngram_jaccard — exact verification metric; the self-join is gated by
                 a document-frequency cap on join keys (hot shingles
                 are dropped before the join — the classic skew guard).

Each returns DataFrames with stable, aliased column names so the
driver's DuckDB oracle can replay the SQL-expressible ones.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from web_content_extractor_spark.functions.text_quality import fingerprint

import re as _re

# ASCII-only whitespace split: Java's \s (used by the JVM-side
# _word_ngrams tokenization that the exact-jaccard verifier runs on)
# does NOT match Unicode whitespace, so the Python kernels must not
# either — else LSH candidates and exact verification would score
# different shingle universes for NBSP-bearing docs.
_WS_ASCII = _re.compile(r"\s+", _re.ASCII)


def _ascii_tokens(t: str) -> list[str]:
    return [w for w in _WS_ASCII.split(t.lower()) if w]


# 2^31 - 1 (Mersenne prime): keeps a*h+b inside signed-64 range
_MERSENNE = 2147483647


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized content hash.

    Returns (doc_id, canonical_id, is_duplicate): canonical = min doc_id
    per hash group (first-wins analog of the reference's PDF dedup,
    cli.py:381-387).
    """
    h = fingerprint(F.col(text_col)).alias("fp")
    by_fp = docs.select(F.col("doc_id"), h)
    canon = by_fp.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    return (
        by_fp.join(canon, "fp")
        .select(
            "doc_id",
            "canonical_id",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def _word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams as strings (native)."""
    toks = F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: F.length(t) > 0)
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array())
    )


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_perm)
    ]


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", num_perm: int = 64, ngram: int = 3
) -> DataFrame:
    """(doc_id, signature array<bigint>).

    The whole shingle->hash->permute-min kernel runs in ONE Arrow
    batch UDF: tokenization (identical to ``_word_ngrams``'s
    lower/\\s+/non-empty rule), per-token md5-8 (first 8 digest bytes
    big-endian, folded mod 2^31-1), vectorized polynomial n-gram
    hashing, per-doc distinct, then the (num_perm x n_shingles)
    permute-min via segment-reduce.  The previous JVM-side shingle
    pipeline (transform/slice/concat_ws/xxhash64 higher-order columns)
    is interpreted per element by Catalyst (HOFs don't codegen) and
    benched ~30x slower than this kernel at sf0.1 — and shipping raw
    text across Arrow is cheaper than shipping the exploded shingle
    arrays.  md5-8 (round 5; previously crc32) because it is the one
    full-dispersion token hash BOTH engines share — the same choice as
    the simhash kernel — which lets the DuckDB oracle recompute the
    entire signature/banding/jaccard pipeline in closed form; measured
    cost of the swap is within noise (0.88 s -> 0.9 s warm at sf0.1).
    Minhash quality is hash-agnostic and the recall tests pin it.
    """
    perms = _perm_params(num_perm)

    @F.pandas_udf("array<bigint>")
    def _sig(texts: pd.Series) -> pd.Series:
        from hashlib import md5

        import numpy as np

        n_rows = len(texts)
        res: list = [[]] * n_rows  # empty docs -> empty signature
        if n_rows == 0:
            return pd.Series(res, dtype=object)
        a = np.array([p[0] for p in perms], dtype=np.int64)[:, None]
        b = np.array([p[1] for p in perms], dtype=np.int64)[:, None]
        # polynomial gram hash over per-token md5-8 values folded into
        # [0, p), p = 2^31-1; coefficients are 1000003^k mod p.  Exact in
        # int64 because the mod runs after every step: acc < p and
        # coef*th < 2^62, so acc + coef*th never overflows
        coef = np.array(
            [1000003**k % _MERSENNE for k in range(ngram)], dtype=np.int64
        )
        doc_grams: list = []
        lens = np.zeros(n_rows, dtype=np.int64)
        for idx, t in enumerate(texts):
            if not t:
                continue
            toks = _ascii_tokens(t)
            if len(toks) < ngram:
                continue
            th = np.fromiter(
                (
                    int.from_bytes(
                        md5(
                            tok.encode("utf-8", "surrogatepass")
                        ).digest()[:8],
                        "big",
                    )
                    for tok in toks
                ),
                np.uint64,
                count=len(toks),
            )
            # fold to [0, 2^31-1) so coef*th + acc stays exact in int64
            th = (th % np.uint64(_MERSENNE)).astype(np.int64)
            g = np.zeros(len(toks) - ngram + 1, dtype=np.int64)
            for k in range(ngram):
                g += coef[k] * th[k : len(toks) - ngram + 1 + k]
                g %= _MERSENNE
            g = np.unique(g)  # distinct shingles, as array_distinct did
            doc_grams.append((idx, g))
            lens[idx] = len(g)
        if not doc_grams:
            return pd.Series(res, dtype=object)
        nz = np.array([i for i, _ in doc_grams], dtype=np.int64)
        flat = np.concatenate([g for _, g in doc_grams])
        m = (a * flat[None, :] + b) % _MERSENNE  # (num_perm, total)
        offsets = np.zeros(len(nz), dtype=np.int64)
        np.cumsum(lens[nz][:-1], out=offsets[1:])
        mins = np.minimum.reduceat(m, offsets, axis=1)  # (num_perm, |nz|)
        cols = mins.T
        for k, i in enumerate(nz):
            res[i] = cols[k]
        return pd.Series(res, dtype=object)

    # the empty-doc filter runs on the UDF OUTPUT: a size()-predicate
    # over a column expression would collapse into the same Project
    # and re-evaluate it per row
    return (
        docs.select("doc_id", _sig(F.col(text_col)).alias("signature"))
        .where(F.size("signature") > 0)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    ngram: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH.

    signature -> `bands` band-hashes -> explode -> equi-self-join on
    (band, band_hash) -> estimated jaccard = matching minhash fraction,
    filtered at ``min_jaccard``.  Returns (doc_a, doc_b, est_jaccard).

    Cache lifecycle: the signature table is persist()ed for the two
    join sides and stays cached until session cache eviction — in a
    long-lived app processing many corpora, clearCache() between
    corpora (bench.py does this between passes).

    Shuffle profile: the band self-join and the pair dedup carry ONLY
    (doc_id, band, band_hash) — the 64-element signatures are
    re-attached to the (far smaller) deduped candidate-pair set by two
    id joins afterwards, so the wide arrays never ride the banding
    shuffle (at corpus scale that multiplied shuffle bytes ~30x).  AQE
    turns the re-attach joins into broadcasts when the candidate set is
    small.
    """
    rows_per_band = num_perm // bands
    # signatures are referenced three times (banding + two re-attach
    # joins): persist so the shingle+permute UDF runs once.  Spark's
    # CacheManager keys on the logical plan, so repeated calls over the
    # same input reuse one entry; at real corpus scale the signatures
    # would be materialized to their own table instead.
    sigs = minhash_signatures(docs, text_col, num_perm, ngram).persist()
    # materialize the cache BEFORE the joins reference it three times:
    # within a single job, concurrent scans of a lazy cached plan each
    # recompute the UDF until the cache fills (benched ~3x signature
    # cost without this).  This is the "build the signature index" step
    # a real pipeline runs as its own write.
    sigs.count()
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col("signature"), b * rows_per_band + 1, rows_per_band
                            ),
                            lambda v: v.cast("string"),
                        ),
                    ),
                    b,
                ),
            )
        ).alias("band", "band_hash"),
    )
    left = banded.select(
        F.col("doc_id").alias("doc_a"), "band", "band_hash"
    )
    right = banded.select(
        F.col("doc_id").alias("doc_b"), "band", "band_hash"
    )
    pairs = (
        left.join(right, ["band", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b")
    )
    # re-attach the signatures to the deduped candidates only
    pairs = pairs.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a")),
        "doc_a",
    ).join(
        sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b")),
        "doc_b",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.size("sig_a")
    ).alias("est_jaccard")
    return pairs.select("doc_a", "doc_b", est).where(
        F.col("est_jaccard") >= min_jaccard
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    ngram: int = 3,
    min_jaccard: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (SQL-expressible oracle op).

    Skew guard: shingles appearing in more than ``max_df`` documents are
    dropped before the self-join (they would otherwise produce df^2
    join rows for zero dedup signal — the standard hot-key cut).

    Cache lifecycle: the exploded gram table is persist()ed (it feeds
    three consumers) and stays cached until session cache eviction —
    long-lived apps should clearCache() between corpora (bench.py does).
    """
    # the exploded gram table feeds three consumers (doc sizes, the
    # document-frequency cap, and both self-join sides): persist +
    # materialize so the interpreted n-gram expression runs once
    grams = docs.select(
        "doc_id", F.explode(_word_ngrams(F.col(text_col), ngram)).alias("g")
    ).persist()
    grams.count()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    # Broadcast the HOT grams (df > max_df) and anti-join, never the kept
    # set: the kept set is corpus-sized vocabulary (a multi-GB broadcast
    # at 100x scale, driver OOM), while the hot set is by construction a
    # handful of boilerplate shingles.  Same kept-gram semantics either
    # way: kept = all grams minus hot.
    hot = grams.groupBy("g").agg(F.count("*").alias("df")).where(
        F.col("df") > max_df
    )
    grams_f = grams.join(F.broadcast(hot.select("g")), "g", "left_anti")
    inter = (
        grams_f.alias("l")
        .join(grams_f.alias("r"), "g")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_grams": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_grams": "nb"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash in one Arrow batch kernel.

    Tokenization (the same lower/\\s+/non-empty rule as the minhash
    kernel) and 64-bit token hashing (md5 first 8 bytes big-endian,
    C-speed, full bit dispersion) both run inside the UDF: shipping
    raw text beats shipping a JVM-built token-hash array, and the
    former JVM ``transform(toks, xxhash64)`` higher-order expression
    is interpreted per element by Catalyst (no codegen) — the same
    bottleneck profiled in the minhash path.  md5-8 (over blake2b-8)
    because it is the one full-dispersion 64-bit token hash BOTH
    engines share: DuckDB recomputes it as
    ``('0x' || substr(md5(tok), 1, 16))::ubigint``, which is what
    lets the driver hash-certify the whole simhash pipeline instead
    of recording a rows-only row.  The bit aggregation is the
    flatten + per-bit segment-reduce from before (a full
    (total_tokens, 64) bit matrix thrashes memory and benched ~100x
    slower).  Returns (doc_id, simhash bigint).
    """

    @F.pandas_udf("bigint")
    def _simhash(texts: pd.Series) -> pd.Series:
        from hashlib import md5

        import numpy as np

        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(out)
        chunks: list = []
        lens = np.zeros(n, dtype=np.int64)
        for idx, t in enumerate(texts):
            if not t:
                continue
            toks = _ascii_tokens(t)
            if not toks:
                continue
            th = np.fromiter(
                (
                    int.from_bytes(
                        md5(
                            tok.encode("utf-8", "surrogatepass")
                        ).digest()[:8],
                        "big",
                    )
                    for tok in toks
                ),
                np.uint64,
                count=len(toks),
            )
            chunks.append((idx, th))
            lens[idx] = len(th)
        if not chunks:
            return pd.Series(out)
        nz = np.array([i for i, _ in chunks], dtype=np.int64)
        flat = np.concatenate([th for _, th in chunks])
        offsets = np.zeros(len(nz), dtype=np.int64)
        np.cumsum(lens[nz][:-1], out=offsets[1:])
        sums = np.empty((len(nz), 64), dtype=np.uint64)
        for b in range(64):
            sums[:, b] = np.add.reduceat(
                (flat >> np.uint64(b)) & np.uint64(1), offsets
            )
        votes = sums.astype(np.int64) * 2 >= lens[nz][:, None]
        # disjoint bit positions: sum == OR; uint64 view = two's complement
        packed = (votes.astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
            axis=1, dtype=np.uint64
        )
        out[nz] = packed.view(np.int64)
        return pd.Series(out)

    return docs.select("doc_id", _simhash(F.col(text_col)).alias("simhash"))


def simhash_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hamming-0 SimHash buckets -> (doc_id, canonical_id, is_duplicate)."""
    sh = simhash(docs, text_col)
    canon = sh.groupBy("simhash").agg(F.min("doc_id").alias("canonical_id"))
    return sh.join(canon, "simhash").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
    )


def hamming_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_distance: int = 3,
    bits: int = 64,
) -> DataFrame:
    """All pairs within Hamming distance ``max_distance`` of a
    ``bits``-bit integer fingerprint — the pigeonhole band join of
    Manku, Jain & Das Sarma (WWW 2007, "Detecting Near-Duplicates for
    Web Crawling"), the operator that turns SimHash from an exact-
    bucket dedup into a real near-dup detector.

    Split the fingerprint into ``max_distance + 1`` disjoint bit
    bands; a pair differing in at most ``max_distance`` bits is
    bit-identical in at least one band (pigeonhole), so candidate
    generation is an equi-join on (band_idx, band_value) — never an
    all-pairs comparison.  Candidates are deduped (a pair can agree on
    several bands) and filtered by one codegen popcount:
    ``bit_count(fp_a ^ fp_b) <= max_distance``.

    Returns (id_a, id_b, hamming) with ``id_a < id_b``.

    Scale shape: the banding shuffle carries four fixed-width values
    per row (id, fp, band_idx, band_val) — no text, no arrays — and
    fans each fingerprint to ``max_distance + 1`` rows.  Band values
    concentrate only where fingerprints genuinely agree on a band;
    run exact dedup first (collapse identical fingerprints to one
    representative) so distance-0 cliques don't quadratically expand
    the join, and let AQE's skew-join split handle residual hot
    bands.  The popcount filter is a single whole-stage-codegen
    expression, not a Python stage.
    """
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    n_bands = max_distance + 1
    if bits < n_bands:
        raise ValueError("need at least one bit per band")
    w = bits // n_bands
    specs = []  # (band_idx, low_bit, width); last band takes remainder
    for i in range(n_bands):
        lo = i * w
        width = (bits - lo) if i == n_bands - 1 else w
        specs.append((i, lo, width))
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                (
                    F.col("__fp")
                    if (lo == 0 and width >= 64)
                    else F.shiftrightunsigned(F.col("__fp"), lo).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                ).alias("val"),
            )
            for i, lo, width in specs
        ]
    )
    e = (
        df.select(
            F.col(id_col).alias("__id"), F.col(hash_col).alias("__fp")
        )
        .select("__id", "__fp", F.explode(bands).alias("b"))
        .select("__id", "__fp", "b.band", "b.val")
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            # popcount BEFORE the pair-dedup shuffle: hamming is a pure
            # function of the pair, so filtering first is equivalent
            # and the distinct carries only true near-pairs, not every
            # chance band collision
            F.bit_count(
                F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_near_duplicates(
    docs: DataFrame, text_col: str = "text", max_distance: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: the Arrow simhash kernel feeding the
    Manku pigeonhole band join.  (doc_id_a, doc_id_b, hamming) with
    hamming <= max_distance."""
    sh = simhash(docs, text_col)
    return hamming_near_duplicates(
        sh, id_col="doc_id", hash_col="simhash", max_distance=max_distance
    ).select(
        F.col("id_a").alias("doc_id_a"),
        F.col("id_b").alias("doc_id_b"),
        "hamming",
    )


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    min_jaccard: float = 0.8,
    max_iter: int = 25,
    shortcut: bool = True,
    with_rounds: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Transitively-closed duplicate clusters: (doc_id, cluster_id).

    The missing last step of every dedup pipeline — pair lists are not
    actionable until connected components turn them into clusters with
    one canonical (min-id) document each.  Iterative min-label
    propagation with **path-halving shortcutting** (pointer jumping):
    each round every node takes the min of its own label, its
    neighbors' labels, AND its label's label (the grandparent hop).
    The shortcut makes label trees collapse geometrically, so rounds
    are O(log diameter) instead of O(diameter) — on a 10^12-doc graph
    with chain-shaped components that is ~40 rounds vs millions.
    Near-dup clusters are dense (near-cliques), so 2-3 rounds in
    practice either way.

    Scale shape per round: equi-joins of edges and labels keyed on
    node id + one min-agg — balanced shuffles on node id; the driver
    sees only the converged/changed COUNT, never the labels.
    ``localCheckpoint`` truncates the per-round lineage (the crawl
    loop's trick, operators/crawl.py).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, min_jaccard=min_jaccard)
    fwd = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = fwd.union(
        fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    labels = docs.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint()
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr = edges.join(
            labels.withColumnRenamed("doc_id", "b"), "b"
        ).select(F.col("a").alias("doc_id"), "cluster_id")
        cand = labels.unionByName(nbr)
        if shortcut:
            # grandparent hop: L(L(u)) — join labels to itself on the
            # label column (path halving, Shiloach-Vishkin style)
            gp = (
                labels.alias("l")
                .join(
                    labels.select(
                        F.col("doc_id").alias("cluster_id"),
                        F.col("cluster_id").alias("gp"),
                    ),
                    "cluster_id",
                )
                .select("doc_id", F.col("gp").alias("cluster_id"))
            )
            cand = cand.unionByName(gp)
        new = (
            cand.groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    return (labels, rounds) if with_rounds else labels


def dedup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time dedup: keep only the batch documents whose content
    is new — not in the existing corpus AND first-of-its-content within
    the batch (min-id wins, like ``exact_duplicates``).

    The incremental complement of the batch dedup family: a crawl
    refresh re-fetches mostly unchanged pages, so the daily ingest job
    is "batch ⟂ corpus", never corpus ⟂ corpus.  Content-keyed, unlike
    ``snapshot_diff`` (id-keyed): a re-crawled page with a NEW url but
    identical body is a duplicate here, invisible there.

    Scale shape: the corpus side collapses to DISTINCT 16-byte
    fingerprints in the scan projection (bodies never move); the
    in-batch first-wins window and the left_anti join key on the SAME
    fingerprint column, so AQE reuses one batch-sized shuffle
    partitioning for both.  At production scale the corpus fingerprint
    set is a maintained table (the streaming curator's checkpointed
    first-seen state, streaming/incremental.py) rather than a
    per-ingest re-scan.

    Returns the surviving batch rows + their ``fp`` fingerprint column
    (callers append these fps to the corpus fingerprint table).
    """
    fp = fingerprint(F.col(text_col))
    b = batch.withColumn("fp", fp)
    seen = corpus.select(fp.alias("fp")).distinct()
    w = Window.partitionBy("fp").orderBy(id_col)
    first = (
        b.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return first.join(seen, "fp", "left_anti")


def resolve_clusters(
    docs: DataFrame,
    clusters: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-document selection: per duplicate cluster keep the
    highest-quality member (tie-break min id), marking the rest for
    drop.

    The resolution step between ``duplicate_clusters`` and the write:
    pair lists say *what* is duplicated, clusters say *together*, this
    says *which one survives* — real pipelines keep the longest /
    highest-scoring copy (RefinedWeb, CCNet), not the arbitrary min-id.

    Output: (id, cluster_id, cluster_size, is_canonical).

    Scale shape: ONE shuffle keyed by cluster_id; near-dup clusters
    are near-cliques (a handful of docs), so partitions stay balanced
    — a degenerate mega-cluster (template spam) is the one skew risk,
    and it is exactly what the heavy-hitter screen in operators/skew.py
    flags before this runs.
    """
    j = clusters.join(docs.select(id_col, quality_col), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    cnt = Window.partitionBy("cluster_id")
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(cnt))
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            (F.col("__rn") == 1).alias("is_canonical"),
        )
    )
