"""Span-sequence parity (the BASELINE.json per-row invariant).

Invariant: every operator either passes a doc's spans through untouched or
reconstructs them deterministically — equality is on the ordered sequence of
(kind, text, media_ref) with offsets 0..n-1 (FIXTURES.md §1).

doc_fingerprint collapses the ordered span sequence into one md5 per doc
(JVM-side expression — no shuffle, no Python); span_parity full-outer-joins
two docs tables on doc_id and counts fingerprint disagreements.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_UNIT_SEP = ""
_REC_SEP = ""


def doc_fingerprint() -> Column:
    """md5 over the ordered (kind, text, media_ref, offset) sequence of
    `spans`."""
    parts = F.transform(
        "spans",
        lambda s: F.concat_ws(
            _UNIT_SEP, s.kind, s.text, s.media_ref, s.offset.cast("string")
        ),
    )
    return F.md5(F.array_join(parts, _REC_SEP))


def offsets_valid() -> Column:
    """True iff `spans` offsets are exactly 0..n-1 in array order."""
    idx = F.sequence(F.lit(0), F.size("spans") - 1)
    return F.forall(
        F.zip_with("spans", idx, lambda s, i: s.offset == i.cast("int")),
        lambda ok: ok,
    )


def span_parity(a: DataFrame, b: DataFrame) -> dict[str, int]:
    """Compare two docs tables on doc_id; returns mismatch/missing counts
    (all 0 = pass)."""
    fa = a.select(F.col("doc_id"), doc_fingerprint().alias("__fa"))
    fb = b.select(F.col("doc_id"), doc_fingerprint().alias("__fb"))
    joined = fa.join(fb, "doc_id", "full_outer")
    agg = joined.agg(
        F.sum(F.when(F.col("__fa").isNull(), 1).otherwise(0)).alias("missing_left"),
        F.sum(F.when(F.col("__fb").isNull(), 1).otherwise(0)).alias("missing_right"),
        F.sum(
            F.when(
                F.col("__fa").isNotNull()
                & F.col("__fb").isNotNull()
                & (F.col("__fa") != F.col("__fb")),
                1,
            ).otherwise(0)
        ).alias("mismatched"),
    ).collect()[0]
    return {k: int(agg[k] or 0) for k in ("missing_left", "missing_right", "mismatched")}
