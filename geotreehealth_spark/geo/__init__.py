"""Pure-numpy geometry layer: WKB codec and vectorized kernels.

No shapely / GEOS dependency — the sandbox has none, and the kernels the
reference needs (PIP, area, polygon clip overlap, distance) are small
enough to implement vectorized from scratch. All functions operate on numpy
arrays so they stay Arrow-batch-friendly inside the Arrow UDFs
(operators/udfs.py). Spatial cell
keys are Catalyst expressions, not numpy: see ``geo/cellexprs.py``.
"""

from geotreehealth_spark.geo.wkb import (  # noqa: F401
    decode_points,
    decode_polygon,
    encode_points,
    encode_polygon,
)
from geotreehealth_spark.geo.kernels import (  # noqa: F401
    clip_area,
    is_convex,
    points_in_polygon,
    polygon_area,
    polygon_overlap_ratio,
    triangulate_ring,
)
