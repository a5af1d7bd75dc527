"""stac_catalog_builder_spark — a PySpark-native spatial-join + tiling engine.

A brand-new engine (NOT a port) with the query/data-processing capabilities of
the reference `VitoTAP/stac-catalog-builder` (read-only at /root/reference),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst, vectorized
Arrow pandas UDFs for the geospatial kernels, explicit partitioning/broadcast/
skew handling for 10^12-image scale.

Layout
------
- ``session``    : tuned SparkSession factory (AQE, Arrow, UTC).
- ``synth``      : deterministic synthetic image+caption table derivation
                   (the driver-mandated ``input_hint`` shape) from seeded
                   integer arithmetic — reproducible in Spark, DuckDB and numpy.
- ``functions/`` : pure kernels — geo math, cell indexes (grid / hex-H3-like /
                   S2-style), image codecs, portable hashes, text scoring.
- ``operators/`` : DataFrame-in/DataFrame-out operators — footprint derivation,
                   point-in-polygon spatial join, kNN, tiling, item/collection
                   grouping + extent aggregation, dedup, similarity, text ops,
                   multimodal decode.
- ``sources/``   : partitioned parquet sinks + a snapshot-log and
                   commit-table checkpoint with anti-join resume.
- ``plans/``     : end-to-end pipelines (flagship spatial-join + tile-assignment).
- ``streaming/`` : Structured Streaming analogues (windowed event rollups).
"""

__version__ = "0.1.0"
