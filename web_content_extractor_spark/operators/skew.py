"""Skew handling: explicit key salting for hot-key aggregations.

North-rule requirement ("explicit salting of skewed hosts ... AQE
skew-join handling").  Web corpora are Zipf-distributed over hosts: a
handful of giant hosts would pin their entire groups on single reduce
tasks.  The classic fix is two-phase aggregation over a salted key:

    groupBy(key, salt) partial-agg   -- salt splits a hot key across
                                        `buckets` reducers
    groupBy(key)       final-agg     -- tiny: one row per (key, salt)

Works for any associative aggregate (count/sum/min/max).  AQE's
skewJoin handles the join-side analog at runtime (session.py turns it
on); this operator covers the aggregation side, which AQE does not
rebalance.

Salt must be deterministic per ROW (not per key) and uniform: derived
by hashing a high-cardinality companion column (e.g. doc_id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: associative aggregates: (partial expr builder, final expr builder)
_ASSOC = {
    "count": (lambda c: F.count(c), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
}


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: list[tuple[str, Column | str, str]],
    salt_from: Column | str,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs`` is a list of (fn, col, alias) with fn in
    count/sum/min/max.  Result is identical to
    ``df.groupBy(key).agg(...)`` but a hot key's partial work spreads
    over ``buckets`` reduce tasks.
    """
    salt = F.pmod(F.xxhash64(salt_from), F.lit(buckets)).alias("_salt")
    partial_cols = []
    final_cols = []
    for fn, col, alias in aggs:
        if fn not in _ASSOC:
            raise ValueError(f"non-associative aggregate {fn!r}; "
                             f"supported: {sorted(_ASSOC)}")
        part, final = _ASSOC[fn]
        partial_cols.append(part(col).alias(f"_p_{alias}"))
        final_cols.append(final(f"_p_{alias}").alias(alias))
    return (
        df.groupBy(F.col(key), salt)
        .agg(*partial_cols)
        .groupBy(key)
        .agg(*final_cols)
    )


def per_host_link_stats(
    exploded_spans: DataFrame, buckets: int = 16
) -> DataFrame:
    """Per-host link rollup of an exploded span frame, salted.

    The concrete skewed aggregation of this engine: host keys follow
    the corpus' Zipf law, doc_id provides the uniform salt.
    Returns (domain, n_links, n_pdf, n_youtube).
    """
    domain = F.regexp_replace(
        F.try_parse_url("media_ref", F.lit("HOST")), r"^www\.", ""
    ).alias("domain")
    df = exploded_spans.select(
        domain,
        "doc_id",
        F.when(F.col("kind") == "pdf", 1).otherwise(0).alias("_is_pdf"),
        F.when(F.col("kind") == "youtube", 1).otherwise(0).alias("_is_yt"),
    )
    return salted_agg(
        df,
        "domain",
        [
            ("count", F.lit(1), "n_links"),
            ("sum", "_is_pdf", "n_pdf"),
            ("sum", "_is_yt", "n_youtube"),
        ],
        salt_from="doc_id",
        buckets=buckets,
    )


# heavy_hitters' count-min sketch (relative error, confidence, seed)
# and the expected sample hits of a true hitter
CMS_EPS, CMS_CONFIDENCE, CMS_SEED = 1e-4, 0.99, 42
HITTER_OVERSAMPLE = 20


def heavy_hitters(
    df: DataFrame,
    key: str,
    min_frac: float = 0.01,
    row_id: str | None = None,
) -> DataFrame:
    """Hot keys (frequency >= ``min_frac`` of non-null rows) without a
    full per-key shuffle — the detector that feeds ``salted_agg``'s
    bucket choice on corpora whose skew isn't known a priori.

    Three bounded passes instead of one corpus-wide groupBy shuffle:

    1. ONE scan aggregating a count-min sketch + row count.  Partial
       aggregation means the "shuffle" is one sketch per partition
       (KBs), never per-key rows.
    2. Candidate keys from a deterministic row sample —
       ``xxhash64(row_id) % m == 0`` with m sized so a true hitter is
       expected ``HITTER_OVERSAMPLE`` (20) times in the sample (miss
       probability ~e^-20; value-hashing rows, not keys, keeps candidate
       probability proportional to frequency AND the sample identical
       under any partition layout).  Falls back to a seeded Bernoulli
       sample when no ``row_id`` column is available.
    3. CMS screen (driver-side, the sketch never underestimates, so no
       true hitter is dropped) bounds the candidate set, then ONE
       broadcast-filtered exact recount confirms — output counts are
       exact, the sketch only steers.

    Keys are sketched/screened as strings (py4j type fidelity); the
    returned ``key`` column keeps the input type.  Returns
    (key, n, frac), empty when nothing crosses the threshold.
    """
    import math

    key_s = F.col(key).cast("string")
    total_row = df.agg(
        F.count(key_s).alias("n"),
        F.count_min_sketch(
            key_s, F.lit(CMS_EPS), F.lit(CMS_CONFIDENCE), F.lit(CMS_SEED)
        ).alias("cms"),
    ).first()
    total = total_row["n"]
    out_schema = df.select(
        F.col(key), F.lit(0).cast("long").alias("n"),
        F.lit(0.0).alias("frac"),
    ).schema
    spark = df.sparkSession
    if total == 0:
        return spark.createDataFrame([], out_schema)
    cut = int(math.ceil(min_frac * total))

    if row_id is not None:
        m = max(1, int(min_frac * total / HITTER_OVERSAMPLE))
        sampled = df.where(F.pmod(F.xxhash64(F.col(row_id)), F.lit(m)) == 0)
    else:
        frac = min(1.0, HITTER_OVERSAMPLE / (min_frac * total))
        sampled = df.sample(fraction=frac, seed=CMS_SEED)
    candidates = [
        r[0]
        for r in sampled.where(key_s.isNotNull())
        .select(key_s)
        .distinct()
        .collect()
    ]
    if not candidates:
        return spark.createDataFrame([], out_schema)

    jvm = spark._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(total_row["cms"]))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    screened = [c for c in candidates if cms.estimateCount(c) >= cut]
    if not screened:
        return spark.createDataFrame([], out_schema)

    return (
        df.where(key_s.isin(screened))
        .groupBy(key)
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= cut)
        .select(
            key, "n", F.round(F.col("n") / F.lit(total), 6).alias("frac")
        )
    )
