"""cartwright_spark — a PySpark-native spatial inference + tiling engine.

From-scratch reimplementation of the capabilities of jataware/cartwright
(reference: /root/reference, a single-process pandas/PyTorch column profiler)
re-expressed Spark-first, plus an H3/S2 spatial-join + tiling layer over
Iceberg-style tables of web pages, and large-scale training-data pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing).

Layout (SURVEY.md §7.1):
  session        SparkSession factory (Arrow, AQE, shuffle partitions)
  schemas        enums + result records (reference: cartwright/schemas.py)
  functions/     fuzzy matching, date-format tables, geodesy/tile math
  sources/       synthetic corpus, gazetteers, iceberg_lite snapshot layer
  taxonomy/      82-label registry + vectorized validator bank
  operators/     classify, resolution, extract, dedup, simsearch, textstats
  spatial/       s2, h3, pip, knn, tiles, skew (all from scratch)
  plans/         end-to-end crawl pipeline (snapshot-checkpointed stages)
"""

__version__ = "0.1.0"
