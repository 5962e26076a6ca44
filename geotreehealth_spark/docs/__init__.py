"""Interleaved-document data model (BASELINE.json input_hint).

One physical table: docs(doc_id: string,
                          spans: array<struct<kind, text, media_ref, offset>>).
Each stem and each LiDAR tile is one doc (the `stems` and `lidar` doc
tables); the decoded typed tables the operators consume are views over docs.
Per-row invariant vs the reference: span-sequence equality on (kind, text,
media_ref, order) — checked by spans.span_parity.
"""
