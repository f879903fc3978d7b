"""gdal_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of GDAL 3.14.0 (reference at /root/reference,
survey in SURVEY.md) as idiomatic Spark: DataFrame/SQL column math for tile
indexing, broadcast + vectorized numpy kernels (Arrow pandas UDFs) for exact
geometry predicates, cell-key equi-joins for spatial joins, and native Catalyst
optimization (pushdown, pruning, AQE) everywhere else.

Design stance (SURVEY.md §7):
  * geometry  = WKB BinaryType + exploded ring arrays + bbox struct columns
  * cell keys = XYZ/WebMercator tiles + quadkeys (exact gdal2tiles math)
  * kernels   = numpy over Arrow batches, never per-row Python
  * joins     = PIP: one broadcast map-only index probe; polygon pairs and
                kNN: cell-key equi-joins
  * skew      = the PIP plan has no exchange, so no hot cell to salt; AQE
                skew-join splitting handles the shuffled cell-key joins
"""

from gdal_spark._zipcache import install as _install_zipcache
from gdal_spark.session import get_spark  # noqa: F401

# Python workers import this package when they unpickle an engine UDF or the
# broadcast polygon index; from then on their tasks skip the zip re-reads.
_install_zipcache()

__version__ = "0.1.0"
