"""Band / array column operators (SURVEY.md §2.7 array ops).

Reference semantics: HSI band slicing and band dropping before model input
(build_dataloaders.py:80-81 drops noisy water-absorption bands; zonal band
windows slice cube axes). All pure Catalyst array expressions — no Python,
no UDFs; DuckDB list functions mirror each one for the oracle.

Indices are 1-based (Spark/DuckDB array convention).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def band_slice(col: Column, start: int, length: int) -> Column:
    """Bands [start, start+length) — F.slice / DuckDB x[start : start+length-1]."""
    return F.slice(col, start, length)


def band_drop(col: Column, idx: int) -> Column:
    """Remove the 1-based band `idx`: concat(slice(1..idx-1), slice(idx+1..end)).

    DuckDB twin: list_concat(x[1:idx-1], x[idx+1:len(x)]).
    """
    head = F.slice(col, 1, idx - 1)
    tail = F.slice(col, idx + 1, F.greatest(F.size(col) - idx, F.lit(0)))
    return F.concat(head, tail)


def band_pad(col: Column, target_len: int) -> Column:
    """Right-pad with -1.0 (a no-data band) to target_len (no-op when already
    >= target).

    DuckDB twin: list_concat(x, [-1.0 for _ in range(target - len(x))]) via
    list_transform(range(...)).
    """
    n_missing = F.greatest(F.lit(target_len) - F.size(col), F.lit(0))
    return F.concat(col, F.array_repeat(F.lit(-1.0), n_missing))
