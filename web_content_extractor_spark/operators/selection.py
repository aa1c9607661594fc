"""Data-selection operators: weighted sampling, stratified sampling,
and DSIR-style importance weighting.

The three selection shapes an LLM-pretraining data recipe actually
uses, beyond the rate- and quota-based forms in operators/corpus.py:

- ``weighted_sample`` — draw k documents WITHOUT replacement with
  probability proportional to a weight column (tokens, quality score):
  the Efraimidis–Spirakis exponential race.  Each doc gets key
  ``-ln(u) / w`` with u uniform in (0, 1]; the k smallest keys are
  exactly a weighted draw without replacement (Efraimidis & Spirakis,
  IPL 2006).  u is derived from the portable integer hash, so the
  sample is a pure function of (doc_id, seed) — rerun-stable and
  reproducible in the SQL oracle.
- ``stratified_sample`` — exactly min(k, |stratum|) docs per stratum
  in reproducible hash order: the fixed-COUNT form next to
  ``mixture_sample`` (rate) and ``token_budget_sample`` (quota).
- ``dsir_weights`` — Data Selection with Importance Resampling (Xie
  et al., NeurIPS 2023): score every raw document by how target-like
  its hashed bigram features are, ``log w(d) = sum_f c_f(d) *
  (ln p_target(f) - ln p_raw(f))`` with add-1 smoothed bucket
  distributions.  Downstream, ``weighted_sample`` over ``exp(log w)``
  IS the DSIR resampling step — the two operators compose.

Scale profile at 10^12 docs:

- ``weighted_sample``: zero shuffles.  ``orderBy(key).limit(k)``
  compiles to TakeOrderedAndProject — a per-partition top-k heap and
  one P·k-row merge, never a global sort; the key is a codegen
  projection over the scan.
- ``stratified_sample``: ONE shuffle keyed by stratum.  A hot stratum
  is a single sorted partition (a sort, not a collect); if one stratum
  dominates, pre-bucket it with a hash sub-key and take
  ceil(k / n_buckets) per sub-stratum — same trick as the token-budget
  note.
- ``dsir_weights``: bigram→vocab-id joins (vocabulary is MB-scale →
  broadcast at real scale), ONE corpus-sized agg keyed by (bucket) for
  feature counts whose output is exactly ``n_buckets`` rows, the
  K-row log-ratio table broadcast back, and ONE per-doc sum keyed by
  doc_id.  Nothing corpus-sized is ever sorted.

Portable-hash / ln determinism contract: integer mixing uses the same
two-round multiplicative hash as operators/corpus.py (exact int64 in
both engines); ``ln`` appears only inside values rounded to 6 dp
(boundary-straddle risk ~1e-9/value) and in the ES sort key where a
cross-engine flip needs two keys within ~1 ulp of each other —
generically impossible for hash-derived inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from web_content_extractor_spark.operators.corpus import (
    M31,
    _MULT1,
    _MULT2,
    id_hash31 as _id_hash31,
    portable_hash,
)


def _uniform(docs: DataFrame, seed: int) -> Column:
    """Deterministic uniform in (0, 1]: (h + 1) / 2^31-1 over the
    doc_id hash (h in [0, M31-1], so u is never 0)."""
    return (_id_hash31(docs, "doc_id", seed) + F.lit(1)).cast(
        "double"
    ) / F.lit(float(M31))


def weighted_sample(docs: DataFrame, k: int = 100, seed: int = 11) -> DataFrame:
    """Efraimidis–Spirakis weighted sample of k docs without
    replacement: keep the k smallest ``es_key = -ln(u) / w``.

    ``weight`` must be > 0 (callers clamp; a zero weight would be
    an infinite key, i.e. never sampled — we keep that semantics by
    clamping to a tiny epsilon instead of erroring).  Ties in the
    float key are broken by doc_id for a total, engine-independent order.

    Plan shape: codegen projection + TakeOrderedAndProject (per-
    partition heap top-k, single bounded merge) — no shuffle, no
    global sort, survives any corpus size with driver memory O(P·k).
    """
    w = F.greatest(F.col("weight").cast("double"), F.lit(1e-12))
    key = -F.log(_uniform(docs, seed)) / w
    return (
        docs.withColumn("es_key", F.round(key, 6))
        .orderBy("es_key", "doc_id")
        .limit(k)
    )


def stratified_sample(docs: DataFrame, k: int = 10) -> DataFrame:
    """Exactly min(k, |stratum|) docs per ``source`` stratum, chosen in
    reproducible portable-hash order (a per-stratum simple random
    sample that reruns bit-identically).

    Output adds ``draw`` — the doc's 1-based position in its stratum's
    hash order (stable across reruns; useful for taking a prefix of a
    larger pre-drawn sample without resampling).
    """
    h = _id_hash31(docs, "doc_id", 13)
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id"))
    return (
        docs.withColumn("draw", F.row_number().over(w))
        .where(F.col("draw") <= k)
    )


def hashed_bigram_features(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 256,
) -> DataFrame:
    """(doc_id, __tgt, bucket): one row per ``text`` bigram occurrence,
    hashed into ``n_buckets`` buckets via portable vocab ids (the
    shared feature map of ``dsir_weights`` and
    ``train_quality_classifier``).

    Vocab ids are a dense row_number over the sorted distinct unigrams
    so any SQL engine reproduces the exact integers; the id window
    sorts only the VOCABULARY (MB-scale — swap for ``xxhash64(tok)``
    if a 100M+-term vocab ever outgrows one task; ids need
    determinism, not density)."""
    from web_content_extractor_spark.functions.text_quality import (
        tokens,
        word_ngrams_all,
    )

    base = docs.withColumn("__tgt", is_target)

    uni = base.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    vocab = (
        uni.distinct()
        .withColumn("tid", F.row_number().over(Window.orderBy("tok")))
    )

    bi = base.select(
        "doc_id",
        "__tgt",
        F.explode(word_ngrams_all(F.col("text"), 2)).alias("bg"),
    ).select(
        "doc_id",
        "__tgt",
        F.substring_index("bg", " ", 1).alias("w1"),
        F.substring_index("bg", " ", -1).alias("w2"),
    )
    v1 = vocab.select(F.col("tok").alias("w1"), F.col("tid").alias("t1"))
    v2 = vocab.select(F.col("tok").alias("w2"), F.col("tid").alias("t2"))
    return (
        bi.join(v1, "w1")
        .join(v2, "w2")
        .withColumn(
            "bucket",
            (
                (
                    F.col("t1") * F.lit(_MULT1)
                    + F.col("t2") * F.lit(_MULT2)
                    + F.lit(17)
                )
                % F.lit(M31)
            )
            % F.lit(n_buckets),
        )
        .select("doc_id", "__tgt", "bucket")
    )


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR hashed-bigram importance log-weights (Xie et al. 2023).

    Features are word bigrams hashed into ``n_buckets`` buckets; the
    hash goes through vocabulary ids (dense 1-based row_number over the
    sorted distinct unigrams) so both Spark and the SQL oracle compute
    the identical integer — no engine-specific string hash.  The dense
    ids exist only for oracle portability: the id window is a
    single-partition sort of the VOCABULARY (MBs for natural-language
    corpora, never the corpus) — if the vocab itself outgrows one task
    (100M+ terms), swap the id for ``F.xxhash64(tok)`` directly; ids
    need determinism, not density, and the bucket distribution is
    hash-uniform either way.  Bucket
    distributions are add-1 smoothed over the TARGET slice (rows where
    ``is_target``) and the RAW corpus (all rows):

        log w(d) = sum_{bigram b in d} ln p_tgt(bucket(b))
                                     - ln p_raw(bucket(b))

    Higher = more target-like.  Docs with < 2 tokens get NULL
    (drop-not-fail visibility); resampling = ``weighted_sample`` over
    ``exp(dsir_logw)``.

    Output: (doc_id, n_feats, dsir_logw rounded to 6 dp).
    """
    feats = hashed_bigram_features(docs, is_target, n_buckets=n_buckets)

    counts = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("c_tgt"),
        F.count("*").alias("c_raw"),
    )
    totals = counts.agg(
        F.sum("c_tgt").alias("tot_tgt"), F.sum("c_raw").alias("tot_raw")
    )
    lr = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("c_tgt") + 1) / (F.col("tot_tgt") + n_buckets))
                - F.log((F.col("c_raw") + 1) / (F.col("tot_raw") + n_buckets))
            ).alias("lr"),
        )
    )

    scored = (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("lr"), 6).alias("dsir_logw"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            "dsir_logw",
        )
    )


def train_quality_classifier(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 256,
    iters: int = 10,
    learning_rate: float = 2.0,
) -> dict:
    """Model-based quality filter: train a logistic-regression
    classifier on the hashed-bigram features (full-batch gradient
    descent, the distributed analog of the fastText/GPT-3-style
    "looks like the target domain" quality classifiers) and score
    every document.

    Discriminative sibling of ``dsir_weights``' generative ratio: the
    same feature map, but weights are FIT to separate target from raw
    instead of derived from smoothed counts.  Deterministic: features,
    init (zeros), and the full-batch gradient are all exact functions
    of the corpus, so reruns reproduce the same model bit-for-bit up
    to float-sum ordering (scores are stable to ~1e-9; this is an
    iterative op — rows-only in the oracle gate, differential-tested
    against an independent numpy implementation).

    Per iteration (model = K+1 floats riding in the kernel closure,
    like PageRank's rank vector in broadcast mode): ONE narrow Arrow
    scan of the cached feature table — each partition walks its
    contiguous doc groups in numpy and returns a single
    (gradient-vector, bias-gradient, loss, count) partial row, the
    driver sums <= P partials and steps.  No join, no shuffle, no
    second action per step (the earlier two-shuffle join formulation
    measured ~3x slower from per-iteration stage latency alone).

    The feature table is built ONCE: per-(doc, bucket) counts with the
    label attached, repartitioned AND sorted by doc_id (complete contiguous
    docs per partition — the kernel's group-walk invariant), persisted.
    Returns {"weights", "bias", "losses", "n_docs",
    "scores": DataFrame(doc_id, p_target, is_target)}.
    """
    spark = docs.sparkSession
    feats = hashed_bigram_features(docs, is_target, n_buckets=n_buckets)
    # ONE cached feature table: per-(doc, bucket) counts with the label
    # attached, repartitioned AND sorted by id so every partition holds
    # complete, contiguous documents — the invariant the gradient
    # kernel's group walk relies on
    xy = (
        feats.groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("double").alias("cnt"))
        .join(
            feats.select(
                "doc_id", F.col("__tgt").cast("double").alias("y")
            ).distinct(),
            "doc_id",
        )
        .repartition(F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .persist()
    )
    if xy.count() == 0:
        raise ValueError(
            "train_quality_classifier: no features (empty corpus or "
            "all docs below the bigram threshold)"
        )

    import numpy as np

    w = np.zeros(n_buckets)
    bias = 0.0
    losses: list[float] = []
    n_docs = 0
    for _ in range(iters):
        partials = xy.mapInPandas(
            _logit_grad_partials(w, bias),
            schema="g array<double>, gb double, loss_sum double, n long",
        ).collect()
        G = np.zeros(n_buckets)
        gb = loss_sum = 0.0
        n = 0
        for r in partials:
            G += np.asarray(r.g, dtype=np.float64)
            gb += r.gb
            loss_sum += r.loss_sum
            n += r.n
        step = learning_rate / n
        w -= step * G
        bias -= step * gb
        losses.append(loss_sum / n)
        n_docs = n

    wdf = spark.createDataFrame(
        [(i, float(w[i])) for i in range(n_buckets)], "bucket int, wgt double"
    )
    scores = (
        xy.join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("wgt")).alias("z"),
            F.max("y").alias("y"),
        )
        .select(
            "doc_id",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("z") + bias))))
            .alias("p_target"),
            F.col("y").cast("boolean").alias("is_target"),
        )
    )
    return {
        "weights": [float(v) for v in w],
        "bias": float(bias),
        "losses": losses,
        "scores": scores,
        "n_docs": n_docs,
    }


def _logit_grad_partials(w: "object", bias: float):
    """Arrow kernel: per-partition full-batch logistic-regression
    gradient partials over the doc_id-sorted (doc_id, bucket, cnt, y)
    table.

    Each partition walks its contiguous doc groups vectorized
    (reduceat over group boundaries; a group that straddles an Arrow
    batch boundary is carried forward), producing ONE tiny row:
    (sum-of-gradients array, bias gradient, loss sum, doc count).
    The model rides in the closure (K+1 floats — the PageRank
    broadcast-ranks shape), so an iteration is a single narrow scan
    of the cached features with no shuffle and no join.
    """
    import numpy as np
    import pandas as pd

    W = np.asarray(w, dtype=np.float64)
    K = len(W)

    def fn(batches):
        G = np.zeros(K)
        gb = 0.0
        loss_sum = 0.0
        n = 0
        # carry: rows of the (possibly incomplete) trailing group
        c_ids = c_b = c_c = c_y = None

        def sigmoid(z):
            return 1.0 / (1.0 + np.exp(-z))

        def close_groups(ids, bks, cts, ys, starts):
            nonlocal gb, loss_sum, n
            z = np.add.reduceat(cts * W[bks], starts) + bias
            yg = ys[starts]
            p = sigmoid(z)
            r = p - yg
            sizes = np.diff(np.concatenate((starts, [len(ids)])))
            np.add.at(G, bks, cts * np.repeat(r, sizes))
            gb += float(r.sum())
            pc = np.clip(p, 1e-12, 1.0 - 1e-12)
            loss_sum += float(
                -(yg * np.log(pc) + (1.0 - yg) * np.log(1.0 - pc)).sum()
            )
            n += len(starts)

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy()
            bks = pdf["bucket"].to_numpy().astype(np.int64)
            cts = pdf["cnt"].to_numpy().astype(np.float64)
            ys = pdf["y"].to_numpy().astype(np.float64)
            if c_ids is not None:
                ids = np.concatenate((c_ids, ids))
                bks = np.concatenate((c_b, bks))
                cts = np.concatenate((c_c, cts))
                ys = np.concatenate((c_y, ys))
            cut = np.nonzero(ids[1:] != ids[:-1])[0] + 1
            starts = np.concatenate(([0], cut))
            last = int(starts[-1])  # trailing group may continue
            if len(starts) > 1:
                close_groups(
                    ids[:last], bks[:last], cts[:last], ys[:last],
                    starts[:-1],
                )
            c_ids, c_b, c_c, c_y = (
                ids[last:], bks[last:], cts[last:], ys[last:]
            )
        if c_ids is not None and len(c_ids):
            close_groups(
                c_ids, c_b, c_c, c_y, np.asarray([0], dtype=np.int64)
            )
        if n:
            yield pd.DataFrame(
                {
                    "g": [G],
                    "gb": [gb],
                    "loss_sum": [loss_sum],
                    "n": [n],
                }
            )

    return fn
