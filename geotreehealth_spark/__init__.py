"""geotreehealth_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Reproduces the query / data-processing capabilities of MarconiS/GEOtreehealth
(the reference is an eager single-machine pandas/geopandas pipeline)
as declarative Spark DataFrame operators over tables of interleaved text+media
documents. See SURVEY.md for the operator inventory and file:line citations.

Design rules (north_star):
- DataFrame / Spark SQL first; Catalyst + AQE do the physical planning.
- Geometry travels as WKB in BinaryType; bbox + cell_id side-columns are always
  materialized so predicate pushdown / partition pruning have something to chew on.
- No per-row Python: all geometry kernels are numpy-vectorized behind one Arrow
  boundary (operators/udfs.py): arrow UDFs, mapInArrow and applyInArrow move
  pyarrow batches straight to numpy and back, with no pandas in between.
- Spatial joins are filter-refine: grid-cell equi-join (coarse) + exact
  numpy kernel (refine).
"""

__version__ = "0.1.0"
