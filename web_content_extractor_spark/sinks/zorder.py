"""Z-order (Morton) clustered layout for multi-dimensional data skipping.

At 100 TB a table is read through predicates on MORE than one column
(host + fetch date, partkey + suppkey, ...).  Range-clustering on one
key gives perfect min/max pruning on that key and none on the others;
interleaving the bits of two keys (the Morton / Z-order curve — the
same layout Delta's OPTIMIZE ZORDER and Iceberg's sort-order rewrite
use) gives partial pruning on *both*: a box predicate touches only the
files whose z-range intersects the query box, ~sqrt of the data for a
square box instead of all of it.

Everything here is pure integer Column algebra (shifts, masks, ors —
whole-stage codegen; the classic bit-spreading sequence), so the same
expression is reproduced literally in the DuckDB oracle:

    x = (x | x<<8) & 0x00FF00FF; (x | x<<4) & 0x0F0F0F0F;
    (x | x<<2) & 0x33333333;     (x | x<<1) & 0x55555555

The write path is ``repartitionByRange`` on the z-value (contiguous
curve segments per file — disjoint per-file z ranges) + within-file
sort, exactly the clustered-compaction shape ``sinks/compact.py`` uses
for one dimension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (shift, mask) rounds spreading a 16-bit int into the even bit
# positions of a 32-bit int
_SPREAD = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


def _part1by1(x: Column) -> Column:
    x = x.bitwiseAND(F.lit(0xFFFF)).cast("long")
    for shift, mask in _SPREAD:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def interleave_bits(x: Column, y: Column) -> Column:
    """Morton z-value of two 16-bit non-negative ints (y in odd bits).

    Inputs are masked to their low 16 bits; callers normalize real
    keys first (modulo, or rank-bucket for skewed domains).
    """
    return _part1by1(x).bitwiseOR(F.shiftleft(_part1by1(y), 1))


def write_zordered(
    df: DataFrame,
    x_col: str,
    y_col: str,
    path: str,
) -> None:
    """Write ``df`` as 16 z-clustered parquet files.

    Each output file covers a contiguous, disjoint z-range
    (repartitionByRange), so parquet footer min/max on BOTH source
    columns become selective — the data-skipping evidence is pinned in
    tests/test_zorder.py against the same data written range-ordered
    by only one key.
    """
    z = interleave_bits(F.col(x_col), F.col(y_col))
    (
        df.withColumn("zval", z)
        .repartitionByRange(16, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(path)
    )
