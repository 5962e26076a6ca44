"""The engine's one Python boundary: Arrow in, Arrow out.

Every numpy kernel runs behind an Arrow entry point: scalar `F.arrow_udf`s
(here, docs/ and vectorize.py), `mapInArrow` (``map_rows``) and
`applyInArrow` (zonal.py, vectorize.py). Batches reach the kernels as
pyarrow arrays and leave as Arrow columns; no pandas frame is built on either
side. The shared pieces: ``arrow_schema`` (built once on the driver, so each
returned batch carries exactly Spark's types), ``list_column`` (a
``list<double>`` column of a 2-D array) and ``distinct_polygons`` (each
distinct WKB buffer of a batch decoded once; NULL stays NULL).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BooleanType, DataType, DoubleType

from geotreehealth_spark.geo import kernels, wkb


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a Spark DDL row schema. Parsing needs the
    driver's session, so call it while building the plan, never in a
    batch function."""
    return to_arrow_schema(DataType.fromDDL(ddl))


def list_column(rows: np.ndarray) -> pa.ListArray:
    """``list<double>`` column of a (n, k) array: row i becomes the list
    rows[i]."""
    n, k = rows.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * k)
    return pa.ListArray.from_arrays(offsets, pa.array(rows.ravel(), pa.float64()))


def map_rows(df: DataFrame, key: str, fn, ddl: str) -> DataFrame:
    """``df.mapInArrow`` of a per-row kernel, one output batch per input
    batch. ``fn(row)`` takes a row as a dict and returns its output columns
    after the first: numpy arrays of one length k, a 2-D one a
    ``list<double>`` column. The first output column repeats the row's
    ``key`` value k times."""
    schema = arrow_schema(ddl)

    def per_batch(it):
        for batch in it:
            parts = [fn(row) for row in batch.to_pylist()]
            if parts:
                rows = np.repeat(np.arange(len(parts)), [len(p[0]) for p in parts])
                cols = [np.concatenate(c) for c in zip(*parts)]
                cols = [list_column(c) if c.ndim == 2 else c for c in cols]
                yield pa.RecordBatch.from_arrays([batch[key].take(rows), *cols], schema=schema)

    return df.mapInArrow(per_batch, ddl)


def distinct_polygons(col: pa.Array) -> tuple[np.ndarray, list[np.ndarray]]:
    """(codes, rings) of a WKB Polygon column: rings holds each distinct
    buffer of the batch decoded once, codes[i] is the index of row i's ring
    and -1 for a NULL geometry."""
    enc = pc.dictionary_encode(col)
    rings = [wkb.decode_polygon(b) for b in enc.dictionary.to_pylist()]
    return enc.indices.fill_null(-1).to_numpy(), rings


@arrow_udf(BooleanType())
def pip_udf(geom_wkb: pa.Array, px: pa.Array, py: pa.Array) -> pa.Array:
    """Exact point-in-polygon refine; polygon decode amortized per unique
    WKB. A NULL polygon contains no point."""
    out = np.zeros(len(geom_wkb), dtype=bool)
    pxv = np.asarray(px, dtype=np.float64)
    pyv = np.asarray(py, dtype=np.float64)
    codes, rings = distinct_polygons(geom_wkb)
    for gi, ring in enumerate(rings):
        mask = codes == gi
        out[mask] = kernels.points_in_polygon(pxv[mask], pyv[mask], ring)
    return pa.array(out)


@arrow_udf(DoubleType())
def overlap_ratio_udf(wkb_a: pa.Array, wkb_b: pa.Array) -> pa.Array:
    """inter / max(areaA, areaB) — greedy-NMS criterion (get_polygons.py:806-816);
    NULL when either polygon is NULL, so the pair forms no conflict edge."""
    ca, ra = distinct_polygons(wkb_a)
    cb, rb = distinct_polygons(wkb_b)
    return pa.array(
        [
            kernels.polygon_overlap_ratio(ra[i], rb[j]) if i >= 0 and j >= 0 else None
            for i, j in zip(ca, cb)
        ],
        pa.float64(),
    )


@arrow_udf(DoubleType())
def polygon_area_udf(geom_wkb: pa.Array) -> pa.Array:
    return pa.array(
        [kernels.polygon_area(wkb.decode_polygon(w)) for w in geom_wkb.to_pylist()],
        pa.float64(),
    )
