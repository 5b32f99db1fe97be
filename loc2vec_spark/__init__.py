"""loc2vec_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Reimplements the query / data-processing capabilities of the reference
``angus-spence/loc2vec`` (see SURVEY.md) as distributed Spark operators:

- hierarchical grid-cell indexing with an H3/S2-compatible API
  (:mod:`loc2vec_spark.cells`),
- cell-neighbor kNN triplet mining (:mod:`loc2vec_spark.operators.triplets`),
- broadcast R-tree point-in-polygon joins (:mod:`loc2vec_spark.operators.pip`),
- raster<->vector tile assembly (:mod:`loc2vec_spark.operators.raster`),
- pure-stdlib PNG codec for binary image columns
  (:mod:`loc2vec_spark.png_codec`),
- training-data pipeline ops: dedup, similarity search, text analysis
  (:mod:`loc2vec_spark.queries_text` etc.).

Everything is DataFrame-first: Catalyst expressions where possible,
Arrow-vectorized pandas UDFs where not, no per-row Python, no RDDs.
"""

__version__ = "0.1.0"
