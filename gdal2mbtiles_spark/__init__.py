"""gdal2mbtiles_spark — a PySpark-native tile-pyramid + spatial-join engine.

From-scratch re-expression of the query/data-processing capabilities of
ecometrica/gdal2mbtiles (reference at /root/reference) on the Spark
DataFrame stack: tile pyramids are DataFrames of (z, x, y, px) rows,
dedup is a groupBy on MD5 tile hashes, resampling is numpy kernels in
Arrow-vectorized pandas UDFs, and the MBTiles contract is a normalized
images/map pair of DataFrames written through a single SQLite writer.

On top of the tiling base the engine adds the web-scale surface mandated
by BASELINE.json: deterministic geocoding of Common-Crawl-style pages,
quadtree cell indexing (H3/S2-equivalent), point-in-polygon and kNN
joins, raster<->vector burn/extract, text dedup (exact / MinHash-LSH /
SimHash), ANN similarity search, and text quality analytics.
"""

__version__ = "0.1.0"

# Every Python worker imports this package when it unpickles one of the
# engine's UDFs; from then on its tasks skip re-reading unchanged zip
# archives (pyspark.zip, --py-files) before each task, and after its
# first task the full collection between tasks skips the objects that
# were alive then.
from gdal2mbtiles_spark import _workergc, _zipcache

_zipcache.install()
_workergc.install()
