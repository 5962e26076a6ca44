"""Arrow-batched pandas UDFs bridging Spark columns to the numpy geo kernels.

These are the scalar pandas UDFs of the spatial operators (pip_join, nms and
the explode fixtures). They are not the engine's only Python boundary: docs/
(WKB encode/decode), operators/vectorize.py and zonal.py (mapInPandas /
applyInPandas), media.py and media_features.py cross it too, all
Arrow-batched (north_star: "no per-row Python"). The PIP
refine UDF additionally amortizes polygon decoding by factorizing on the WKB
bytes within a batch (many rows share a polygon after a cell join).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType

from geotreehealth_spark.geo import kernels, wkb


@pandas_udf(BooleanType())
def pip_udf(geom_wkb: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
    """Exact point-in-polygon refine; polygon decode amortized per unique WKB."""
    out = np.zeros(len(geom_wkb), dtype=bool)
    pxv = px.to_numpy(dtype=np.float64)
    pyv = py.to_numpy(dtype=np.float64)
    codes, uniques = pd.factorize(geom_wkb)
    for gi, w in enumerate(uniques):
        mask = codes == gi
        ring = wkb.decode_polygon(w)
        out[mask] = kernels.points_in_polygon(pxv[mask], pyv[mask], ring)
    return pd.Series(out)


def _decode_cached(series: pd.Series) -> list:
    """Decode a WKB column with per-batch memoization — each polygon appears
    in many candidate pairs, so decode once per unique buffer."""
    codes, uniques = pd.factorize(series)
    rings = [wkb.decode_polygon(u) for u in uniques]
    return [rings[c] for c in codes]


@pandas_udf(DoubleType())
def overlap_ratio_udf(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """inter / max(areaA, areaB) — greedy-NMS criterion (get_polygons.py:806-816)."""
    ra = _decode_cached(wkb_a)
    rb = _decode_cached(wkb_b)
    return pd.Series([kernels.polygon_overlap_ratio(a, b) for a, b in zip(ra, rb)])


@pandas_udf(DoubleType())
def polygon_area_udf(geom_wkb: pd.Series) -> pd.Series:
    return pd.Series([kernels.polygon_area(wkb.decode_polygon(w)) for w in geom_wkb])
