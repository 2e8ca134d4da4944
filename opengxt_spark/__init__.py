"""opengxt_spark — a from-scratch PySpark-native spatial analytics engine.

Re-expresses the capabilities of the OpenGXT spatial-statistics toolbox
(mangosystem/opengxt — a single-JVM, row-at-a-time GeoTools process library)
as idiomatic Spark DataFrame operators:

- grid-cell index (H3-style integer cells from ``floor()`` expressions) with a
  broadcast-or-shuffle cell-bucketed spatial-join planner (``planner.py``),
- point-in-polygon / nearest / kNN / distance-band joins (``joins.py``),
- rectangular & hexagonal binning and fishnet/hex grid generators
  (``binning.py``),
- dissolve + summary statistics (``summarize.py``),
- spatial-distribution descriptors (``distribution.py``),
- global & local spatial autocorrelation (Moran's I, Getis-Ord Gi*, Geary's C,
  NNI, quadrat) via a distributed spatial-weights pair table (``autocorr.py``),
- image+caption table (BASELINE.json input_hint shape), footprint->tile
  rasterization, raster<->vector zonal statistics and kernel density over
  a raster grid (``raster.py``),
- training-data pipeline ops: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard), text quality & language heuristics, ANN similarity (``textops.py``,
  ``ann.py``).

Everything on the hot path is Spark built-in expressions (JVM, whole-stage
codegen); Python runs in Arrow-batched pandas stages (pandas UDFs,
``mapInPandas``, ``applyInPandas``) for generic polygon geometry and raster
tile blocks, image patches and payloads (``imageops.py``, ``raster.py``),
WebDataset shard writing (``wds.py``), shapefile and GeoTIFF reading and
writing (``shapefile.py``, ``geotiff.py``) and streaming state
(``streaming.py``). Inside a PySpark worker on CPython < 3.12, importing
the package installs ``pyworker``'s stat-guarded zip-import invalidation,
so a reused worker stops re-reading ``pyspark.zip`` before every task.
"""

import sys as _sys

__version__ = "0.1.0"

if "pyspark.worker" in _sys.modules:
    from . import pyworker as _pyworker

    _pyworker.install()
