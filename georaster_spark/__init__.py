"""georaster_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch engine with the query semantics of pka/georaster
(raster grids, geotransforms, tiled pixel access, web-mercator tiles)
re-expressed over Spark DataFrames, plus the point-in-polygon / kNN
joins and the checkpointed snapshot-table ingest that a web-scale
(100 TB-class) geocoded-document pipeline needs.

Design rules (see SURVEY.md):
- DataFrame/SQL first; Catalyst does pushdown/pruning/broadcast.
- Custom kernels only as Arrow batch kernels (pandas for the group
  kernels) — Python loops over rows only where a row is a whole file,
  split or chunk (``session.map_rows``), never per pixel or document.
- Partitioning, shuffle and skew handled explicitly (salting,
  broadcast cell-cover joins, AQE backstop).
"""

from georaster_spark.grid import RasterGeometry
from georaster_spark.session import get_spark

__all__ = ["RasterGeometry", "get_spark"]

__version__ = "0.1.0"
