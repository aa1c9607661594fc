"""Corpus snapshot diff: which documents were added/removed/changed.

The incremental-reprocessing primitive for a 10^12-doc table: given two
snapshots of the docs table (Iceberg snapshot reads, or two parquet
roots in the sandbox fallback), classify every doc_id so downstream
extraction re-runs ONLY `added` + `changed` — the doc-granular
complement to the file-granular `extract --resume`
(streaming/incremental.py::stream_extract).

Scale shape: both sides reduce to (id, 16-byte fingerprint) in the
scan projection, so the full-outer join shuffles fingerprints, never
document bodies.  On bucketed tables (sources/bucketed.py,
`bucket(N, doc_id)`) the join is co-located — zero Exchange; otherwise
it is one uniform hash shuffle on the id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    fingerprint: Column | None = None,
) -> DataFrame:
    """(doc_id, status) over the union of both snapshots' ids, with
    status in {added, removed, changed, unchanged}.

    ``fingerprint`` defaults to md5 of the ``text`` column; pass a custom
    Column expression (e.g. over several columns) to widen the change
    detection.  NULL text fingerprints as the empty string so a
    NULL -> 'x' edit counts as changed, not added.

    PRECONDITION: ``doc_id`` is a key on both sides (the docs-table
    contract).  Duplicate ids would cross-pair in the join and report
    spurious 'changed' rows — if your snapshot can hold duplicates,
    reduce each side to one fingerprint per id first (e.g. md5 of the
    sorted per-id fingerprint list; costs one groupBy per side).
    """

    def side(df: DataFrame, tag: str) -> DataFrame:
        fp = (
            fingerprint
            if fingerprint is not None
            else F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
        )
        return df.select(F.col("doc_id").alias("id"), fp.alias(f"fp_{tag}"))

    j = side(old, "old").join(side(new, "new"), "id", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), "added")
        .when(F.col("fp_new").isNull(), "removed")
        .when(F.col("fp_old") != F.col("fp_new"), "changed")
        .otherwise("unchanged")
    )
    return j.select(F.col("id").alias("doc_id"), status.alias("status"))


def changed_docs(
    old: DataFrame, new: DataFrame, fingerprint: Column | None = None
) -> DataFrame:
    """The rows of ``new`` that need (re)processing: added + changed.

    Semi-join against the diff, so the output carries the full new-side
    columns while the diff itself only ever shuffled fingerprints.
    """
    d = snapshot_diff(old, new, fingerprint)
    todo = d.where(F.col("status").isin("added", "changed")).select("doc_id")
    return new.join(todo, "doc_id", "left_semi")
