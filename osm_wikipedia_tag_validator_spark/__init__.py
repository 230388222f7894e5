"""PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the query and data-processing
capabilities of osm-quality/OSM-wikipedia-tag-validator (reference at
/root/reference, studied for behavior only) as an idiomatic Spark
engine: DataFrame/SQL plans optimized by Catalyst, with the geospatial
core as Catalyst expressions (discrete-global-grid cell encoding,
raster-tile assignment, and a point-in-polygon join that broadcasts a
per-cell candidate-polygon dim and ray-casts in the JVM), vectorized
pandas/Arrow UDFs where numpy does the work (image codecs),
and checkpoint/ledger tables for resumable incremental processing.

The reference is a single-node, row-at-a-time Python + SQLite pipeline
(see SURVEY.md); nothing here is a translation of it. Parity is at the
level of semantics: the operator inventory in SURVEY.md §2 maps each
reference behavior (file:line) to the module implementing it here.
"""

__version__ = "0.1.0"
