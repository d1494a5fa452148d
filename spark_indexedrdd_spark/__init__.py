"""spark_indexedrdd_spark — a PySpark-native engine with the query and
data-processing capabilities of amplab/spark-indexedrdd.

The reference (/root/reference, Scala, 1.6k LoC) is an updatable key-value
store: an RDD of (K, V) pairs with unique keys, hash-partitioned by key,
with a per-partition radix-tree index giving efficient point lookups,
functional point updates/deletes, and co-partitioned key joins
(reference README.md:5, IndexedRDD.scala:29-40).

This package re-expresses that contract Spark-first:

- ``IndexedDataFrame`` (core.py) — the distributed unique-key map as a
  DataFrame ``(key cols…, value cols…)`` hash-repartitioned by key and
  cached; every mutation is functional (returns a new IndexedDataFrame,
  parent unchanged — the reference's copy-on-write snapshot semantics,
  PARTPartition.scala:53, fall out of DataFrame immutability).
- ``operators/`` — point-lookup fast path (driver-resident sorted arrays
  within a byte budget, the multiget analog of IndexedRDD.scala:79-94)
  and the SQL analytics surface
  the reference lacks (grouped aggregation, windows, top-k, set ops).
- ``sources/`` — parquet table loaders + KV view builders over the
  driver's TPC-H-ish testdata.
- ``functions/`` — text analysis, deduplication (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding-cosine), similarity search, and
  multimodal-column plumbing for large-scale training-data pipelines.
- ``streaming/`` — Structured Streaming windows/watermarks and a custom
  stateful operator, the streaming analog of the reference's incremental
  fullOuterJoin(maybeLazy) pattern (IndexedRDD.scala:237-252).
- ``plans/`` — plan-inspection helpers used by tests to assert
  shuffle-elision and pushdown (the optimizations the reference
  hand-implements via zipPartitions, IndexedRDD.scala:193-198).
"""

from spark_indexedrdd_spark.core import IndexedDataFrame
from spark_indexedrdd_spark.session import get_spark

__all__ = ["IndexedDataFrame", "get_spark"]
__version__ = "0.1.0"
