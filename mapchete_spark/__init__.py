"""mapchete_spark — a PySpark-native tile-pyramid geoprocessing engine.

A from-scratch re-creation of the capabilities of ungarj/mapchete
(reference: /root/reference) on top of the Spark DataFrame API:

- ``tilegrid``: pure-Python/numpy WMTS-simple tile pyramid math
  (geodetic / mercator / custom grids, metatiling, pixelbuffer,
  parent/children/neighbors, tile cover enumeration, tile counting).
- ``geometry``: minimal vectorized geometry kernel (point-in-polygon,
  polygon clipping, WKB codecs, antimeridian handling) — no shapely.
- ``raster``: masked-array raster ops (prepare/extract/resample/mosaic/
  clip-by-vector) plus terrain processes (hillshade, contours).
- ``functions``: JVM-side Column expression builders (doc→geo hashing,
  tile assignment arithmetic, text analysis, minhash/simhash) — the
  hot path stays inside whole-stage codegen.
- ``operators``: Spark operators (tile cover explode, pyramid rollup,
  halo join, dedup family, similarity search, checkpoint/continue).
- ``plans``: .mapchete-style YAML config with zoom-conditional
  resolution, and the per-zoom job runner.
"""

__version__ = "0.1.0"

from mapchete_spark import pyworker as _pyworker

# a Spark task unpickling engine code: later tasks of this reused worker
# skip the per-task zip directory re-reads (see pyworker.py)
if _pyworker.in_spark_task():
    _pyworker.cache_zip_directories()
