"""Byte-weighted range rebalancing for heavy-tailed corpora.

``repartitionByRange(doc_id)`` balances ROW counts: Spark's range
sampler draws doc_ids uniformly, so every partition gets ~equal rows.
On an interleaved text+media corpus doc sizes are heavy-tailed (a
media-rich document can be 1000x the bytes of a text-only one), and a
row-balanced partition can carry orders of magnitude more bytes than
its neighbors — the Python/Arrow tokenizer stage then straggles on the
byte-heavy partitions while the rest of the cluster idles.

This module rebalances by WEIGHT (bytes, tokens, ...) instead:

1. draw a byte-weighted key sample (Efraimidis–Spirakis A-Res race
   ``-ln(u)/w``, planned as TakeOrderedAndProject — per-partition
   heaps, ``partitions * BUCKET_FACTOR * OVERSAMPLE`` rows ever reach
   the driver);
2. cut the key space into ``K = partitions * BUCKET_FACTOR`` buckets
   of ~equal total weight (plain quantiles of the weighted sample);
3. interleave buckets into ``partitions`` classes (``bucket mod
   partitions``) — each class owns ``BUCKET_FACTOR`` byte-equal
   buckets, so classes are byte-equal AND row-count-concentrated
   (mixing byte-heavy/row-light and byte-light/row-heavy key regions);
4. one hash ``repartition`` exchange on a PERFECT-HASH key: each
   class is mapped (inside the same Arrow kernel) to a precomputed
   int whose ``pmod(murmur3, partitions)`` equals the class id, so
   the exchange places class k in partition k exactly.

Step 4 deliberately avoids a second sampling pass.  A
``repartitionByRange(partitions, class)`` exchange re-samples rows to
learn boundaries, and that sampler is seeded from the RDD id — the
same logical plan run after different session history can merge two
classes into one partition and leave another empty, silently
re-creating skew (observed: max/mean 1.3 -> 1.8 across runs).  A
plain hash repartition on the raw class id is no better: murmur3 of
0..P-1 modulo P collides.  The perfect-hash key (driver-precomputed
by inverting Spark's Murmur3Hash for each target partition, ~P ln P
probes) gives an exact class -> partition bijection with no sampling
job, no collision, and full determinism regardless of session state.

The cost is the boundary-sampling JOB (a scan of (key, weight) — if
the weight expression reads the payload column, that is a full
payload read on top of the processing pass; pass a metadata size
column instead whenever the table has one, and the sample scans two
narrow columns), one bounded driver collect, a narrow Arrow kernel
assigning buckets by numpy binary search over the broadcast boundary
array (log B compares/row — noise next to a ~300us/doc parse), and
one hash exchange (vs the range exchange row-balancing pays, PLUS
the boundary-sampling job hidden inside it).  Outputs are
row-identical to the input; only the physical layout changes.  A
document larger than ``total_bytes/partitions`` still owns its
partition's tail — the best any per-doc operator can do.  Trade-off
vs plain range partitioning: global key order across partitions is
NOT preserved (classes interleave the key space); per-doc stages
don't care, but order-sensitive sinks should sort downstream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = [
    "weighted_range_boundaries",
    "byte_balanced",
    "partition_weight_stats",
    "murmur3_int32",
    "perfect_hash_keys",
]

# boundaries are embedded as a literal array in the bucket projection;
# keep the per-row scan cheap
MAX_BUCKETS = 4096
# byte-equal buckets per partition class, and sampled rows per bucket
BUCKET_FACTOR, OVERSAMPLE = 32, 8
# rand() seed of the weighted boundary sample
SAMPLE_SEED = 7


def murmur3_int32(x: int) -> int:
    """Spark's ``Murmur3Hash`` of a non-null IntegerType value
    (``hashInt``, default seed 42): one 4-byte block mix + the
    x86_32 finalizer with len=4.  Returns the SIGNED int32 Spark
    emits.  Pinned against ``F.hash`` in tests/test_rebalance.py so
    any engine drift is caught, not silently mis-partitioned."""
    k = (x & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * 0x1B873593 & 0xFFFFFFFF
    h = (42 ^ k) & 0xFFFFFFFF
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # finalizer: total byte length of the hashed input
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - 0x100000000 if h >= 0x80000000 else h


def perfect_hash_keys(partitions: int) -> list[int]:
    """``keys[k]`` is the smallest non-negative int32 whose
    ``pmod(murmur3(key), partitions)`` is exactly ``k`` — hashing
    ``keys[class]`` routes class k to partition k with zero
    collisions.  Coupon-collector cost ~``P ln P`` probes on the
    driver (P <= MAX_BUCKETS, microseconds)."""
    keys: list[int | None] = [None] * partitions
    found, v = 0, 0
    while found < partitions:
        p = murmur3_int32(v) % partitions  # python % is already pmod
        if keys[p] is None:
            keys[p] = v
            found += 1
        v += 1
    return keys  # type: ignore[return-value]


def weighted_range_boundaries(
    df: DataFrame,
    key_col: str,
    weight,
    buckets: int,
) -> list:
    """``buckets - 1`` key boundaries at equal WEIGHT quantiles.

    Weighted sampling via the exponential race (Efraimidis–Spirakis
    A-Res): every row draws race key ``-ln(u)/w`` and the ``buckets *
    OVERSAMPLE`` smallest keys form the sample.  ``orderBy(race)
    .limit(n)`` plans as TakeOrderedAndProject: no global sort,
    per-partition top-n heaps + one driver merge.

    Boundaries are equal CUMULATIVE-WEIGHT cuts over the key-sorted
    sample.  Each sampled row represents ``w_i / P(included)`` corpus
    weight (Horvitz–Thompson): when the sample holds the whole corpus
    (n >= N — tests, small inputs) that is exactly ``w_i``; when
    truncated, inclusion is ~``min(1, n * w_i / W)`` so the
    represented weight is ``max(w_i, W/n)``, with the corpus total
    ``W`` estimated race-side as ``n / max(race key in sample)`` (the
    n-th exponential arrival time of a rate-W process) — no second
    scan.  A plain row-quantile cut over the sample is WRONG in the
    n >= N regime: it silently degrades to row-balancing, the exact
    layout this operator exists to replace.

    Null/non-positive weights count as weight 1 (a zero-byte row still
    occupies a row slot downstream).  Deterministic for a fixed input
    layout (``SAMPLE_SEED``).
    """
    n = buckets * OVERSAMPLE
    w = F.greatest(
        F.coalesce(weight.cast("double"), F.lit(1.0)), F.lit(1.0)
    )
    # rand() can return exactly 0.0 (log -> NULL, which would sort
    # NULLS FIRST straight into the sample and crash the driver-side
    # max below) — clamp u away from 0; the clamped key is merely
    # "extremely unlucky", not corrupt
    u = F.greatest(F.rand(SAMPLE_SEED), F.lit(1e-300))
    sample = (
        df.select(
            F.col(key_col).alias("__k"),
            w.alias("__w"),
            (-F.log(u) / w).alias("__r"),
        )
        .orderBy("__r")
        .limit(n)
        .collect()
    )
    rows = [(r["__k"], r["__w"]) for r in sample if r["__k"] is not None]
    if not rows:
        return []
    # truncation test on the RAW sample size: null-key rows dropped
    # above still occupied sample slots, and skipping the HT floor on
    # a truncated sample would double-count heavy rows (weight-biased
    # inclusion x raw weight)
    if len(sample) >= n:
        floor = 1.0 / max(r["__r"] for r in sample)  # = W_hat / n
        rows = [(k, max(wi, floor)) for k, wi in rows]
    rows.sort()
    total = sum(wi for _, wi in rows)
    bounds, cum, i = [], 0.0, 1
    for k, wi in rows:
        cum += wi
        while i < buckets and cum >= (i * total) / buckets:
            bounds.append(k)
            i += 1
    while i < buckets:  # numeric tail: pad with the max key
        bounds.append(rows[-1][0])
        i += 1
    return bounds


def byte_balanced(
    df: DataFrame,
    key_col: str,
    weight,
    partitions: int,
) -> DataFrame:
    """Repartition ``df`` into ``partitions`` partitions of ~equal
    total ``weight`` (not ~equal rows).

    ``weight`` is a Column of per-row cost.  Rows and values are
    unchanged; only the physical layout moves.

    Balance floors, measured on a synthetic 100x tail: (a) per-row
    atomicity — one document heavier than ``total_weight/partitions``
    makes max/mean >= its share no matter the layout (max/mean 2.4 at
    P=128 on a corpus whose giants are each ~1.1e-3 of total weight);
    (b) interleave averaging — classes aggregate ``BUCKET_FACTOR``
    byte-equal buckets, and once ``partitions`` approaches
    ``MAX_BUCKETS / 8`` the factor collapses toward 1, class variance
    rises, and duplicate boundary keys leave some classes empty
    (P=2048 -> 1355 non-empty, max/mean 24 on the same corpus).  Keep
    ``partitions * 8 <= MAX_BUCKETS`` for the balance guarantee; at
    10^12 docs a single partition holds millions of rows and floor (a)
    vanishes.
    """
    if partitions < 1:
        raise ValueError("partitions must be >= 1")
    if partitions > MAX_BUCKETS:
        # silently capping buckets at MAX_BUCKETS would leave only
        # `buckets` distinct classes — at most MAX_BUCKETS non-empty
        # partitions and one bucket per class, i.e. half the requested
        # parallelism and none of the multi-bucket byte-equalization.
        # Fail loudly; at >4096-way parallelism rebalance per subrange.
        raise ValueError(
            f"partitions must be <= {MAX_BUCKETS} (boundary array is "
            f"a per-row literal scan); split the corpus and rebalance "
            f"per subrange instead"
        )
    if partitions == 1:
        return df.coalesce(1)
    buckets = min(partitions * BUCKET_FACTOR, MAX_BUCKETS)
    bounds = weighted_range_boundaries(df, key_col, weight, buckets)
    if not bounds:
        return df
    # bucket = #bounds <= key, via numpy binary search in an Arrow
    # kernel (log B Python compares per row).  The Column alternative
    # — size(filter(lit_array, b -> b <= key)) — is an INTERPRETED
    # HOF, a linear scan of all B boundaries per row: measured 0.8s
    # over a 30k-doc corpus at B=4096 vs ~0.1s for the kernel, and
    # linear-in-B where the kernel is flat
    barr = np.array(bounds, dtype=object)
    # class -> routing key whose murmur3 pmod lands on that exact
    # partition: the final exchange is a plain hash repartition with a
    # guaranteed bijection — no boundary re-sampling job, no
    # session-history-dependent RangePartitioner seed (see module doc)
    pkeys = np.array(perfect_hash_keys(partitions), dtype="int32")

    def _route(s: pd.Series) -> pd.Series:
        vals = s.to_numpy(dtype=object)
        mask = pd.isna(vals)
        if mask.any():
            vals = vals.copy()
            vals[mask] = bounds[0]
        idx = np.searchsorted(barr, vals, side="right").astype("int64")
        if mask.any():
            idx[mask] = 0  # null key -> bucket 0, matching filter-
            # semantics (a null comparison keeps no boundary)
        return pd.Series(pkeys[idx % partitions])

    route = F.pandas_udf(_route, "int")(F.col(key_col))
    return (
        df.withColumn("__route", route)
        .repartition(partitions, "__route")
        .drop("__route")
    )


def partition_weight_stats(df: DataFrame, weight) -> DataFrame:
    """Diagnostic: per-physical-partition (rows, total weight).

    One narrow aggregation keyed on ``spark_partition_id()`` — use it
    to compare layouts (max/mean weight ratio) before and after
    :func:`byte_balanced`.
    """
    return (
        df.select(
            F.spark_partition_id().alias("pid"),
            F.coalesce(weight.cast("double"), F.lit(1.0)).alias("__w"),
        )
        .groupBy("pid")
        .agg(
            F.count("*").alias("rows"),
            F.sum("__w").alias("total_weight"),
        )
    )
