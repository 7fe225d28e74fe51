"""semcode_spark — a PySpark-native full-text (BM25) index + query engine.

A from-scratch rebuild of the index+query architecture of the reference
(`rmontanana/semcode`, read-only at /root/reference): ingest → tokenize →
index (postings + stats) → top-k ranked retrieval, with per-partition
checkpoint/lineage and metrics — re-expressed Spark-first:

- every stage is a DataFrame plan (Catalyst optimizes; no RDDs),
- all Python kernels are Arrow-vectorized (pandas_udf / applyInPandas),
- the index is a data *layout* (salted repartition-by-term, sorted,
  block-max posting rows in parquet) rather than an external service
  (the reference outsources this exact part to Milvus,
  reference: storage/milvus_store.py:50-133).

Subpackages
-----------
functions/   tokenization, text extraction, portable hashing
operators/   index build, BM25/WAND query, dedup, similarity, text stats
sources/     synthetic web_pages fixture source, parquet table helpers
plans/       manifest / checkpoint / resume logic
streaming/   incremental (availableNow) index maintenance
"""

__version__ = "0.1.0"

from semcode_spark.config import BM25Config, IndexConfig  # noqa: F401
