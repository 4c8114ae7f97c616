"""rgr_pdal_topo_spark — a from-scratch PySpark-native spatial tiling + join engine.

Re-expresses the capabilities of the OpenTopography/RGR-pdal-topo reference
toolkit (point-cloud -> DEM gridding, windowed topographic-metric stencils,
point-in-polygon / kNN / profile-projection joins, SMRF-style ground
classification) as idiomatic Spark DataFrame plans over a Common-Crawl-style
web-page table treated as a point payload, plus the page-table
operators (text extraction, geocoding, crawl consolidation) such a table
needs.

Design rules (see SURVEY.md):
  * DataFrame / Spark SQL only — no RDDs, no per-row Python UDFs.
  * Python reached only through Arrow-vectorized UDFs (applyInArrow /
    applyInPandas / pandas_udf),
    and only where built-in operators cannot express the semantics
    (tile-local stencil kernels, exact geometry tests).
  * Every spatial operator is cell-prefiltered so the expensive exact test
    runs on a tiny candidate set; small dimension tables are broadcast.
  * Skewed cells are handled by explicit two-phase (salted) aggregation.
"""

from rgr_pdal_topo_spark.grid import GridSpec
from rgr_pdal_topo_spark.session import get_spark

__all__ = ["GridSpec", "get_spark"]

__version__ = "0.1.0"
