"""raster_processor_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Reproduces the query semantics of SWOTAlgorithms/Raster-Processor (reference at
/root/reference, read-only) on idiomatic Spark: DataFrame/SQL plans optimized by
Catalyst, vectorized Arrow/pandas UDFs for the genuinely custom kernels
(ray-cast point-in-polygon, image decode), and built-in expressions for cell
encoding and every aggregation kernel so whole-stage codegen covers the hot path.

Layout:
  cellindex    — pure-numpy quadcell (S2-style) + hexcell (H3-style) encoders
  geo          — deterministic SQL-expressible georeferencing of table keys
  polygons     — deterministic vector polygon sets (Spark DF + SQL VALUES twins)
  operators/   — spatial join, kNN, aggregation kernels, windows, dedup, ANN, text
  sources/     — schema-pinned readers + parquet snapshot/lineage layer
  functions/   — column-expression library (bitflag quals, lon wrap, geodesy)
  codec        — raw/q8 image block codec (numpy, no external libs)
  datagen      — deterministic synthetic image+caption table generator
"""

__version__ = "0.1.0"
