"""Targeted-partition point lookups — the multiget fast path.

The reference's ``multiget`` computes each key's owning partition on the
driver with the partitioner and launches a job on ONLY those partitions
(``context.runJob(partitionsRDD, fn, partitions)``,
reference IndexedRDD.scala:79-94); untouched partitions are never
scheduled. DataFrames cannot express "run on a subset of cached
partitions", so :class:`NativeHashPointIndex` reproduces the property with
the RDD API: build one hash-map per hash partition of the frame (the dict
stands in for the per-partition ART tree, reference PARTPartition.scala:
26-40), route each key to its partition with Spark's own Murmur3 on the
driver (``hashing.py``), and ``sc.runJob`` on just the owning partitions.

Scale: on a 1000-executor cluster a multiget of k keys schedules at most
min(k, n) tasks and moves only the requested values to the driver — same
asymptotics as the reference. This is an *optional* fast path, attached
with ``IndexedDataFrame.with_point_index()``: the DataFrame ``isin``
filter in ``IndexedDataFrame.multiget`` is the correctness-checked default.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

from pyspark import TaskContext

from spark_indexedrdd_spark.localframe import local_rows_df

from spark_indexedrdd_spark.core import IndexedDataFrame
from spark_indexedrdd_spark.hashing import (
    hashers_for_schema,
    spark_partition_of,
)


class NativeHashPointIndex:
    """Per-partition hash index over a single-value IndexedDataFrame.

    ``df.repartition(n, *keys)`` places each row in physical partition
    ``pmod(murmur3_hash(keys), n)`` — verified empirically for long,
    string, and composite keys (tests/test_point_lookup.py). So for a
    frame that follows the build contract the per-partition dicts are
    built straight off its cached partitions (one narrow scan, no
    shuffle), and a multiget routes keys with Spark's own partitioner as
    the global index, exactly as the reference uses ITS partitioner
    (IndexedRDD.scala:42).

    Derived frames (joins, aggregations) keep the hash layout but AQE may
    coalesce their runtime partition COUNT below ``num_partitions``. Such
    a frame is re-laid out once with ``repartition(n, *keys)`` — one JVM
    exchange — so the same driver-side routing stays valid."""

    def __init__(self, idf: IndexedDataFrame):
        idf._single_value()
        self.keys = list(idf.keys)
        self.n = idf.num_partitions
        self._spark = idf.df.sparkSession
        self._key_schema = idf.df.select(*self.keys).schema
        # driver-side Murmur3 (hashing.py) when every key type supports it;
        # None -> owning_partitions asks Spark with a hash-of-literals job
        self._hashers = hashers_for_schema(self._key_schema)
        nk = len(self.keys)

        def to_dict(it):
            d = {}
            for row in it:
                d[row[0] if nk == 1 else tuple(row[:nk])] = row[nk]
            return iter([d])

        base = idf.df.rdd
        if base.getNumPartitions() != self.n:
            # layout guard: rows no longer sit in pmod(murmur3(keys), n)
            base = idf.df.repartition(self.n, *self.keys).rdd
        self._parts = base.mapPartitions(
            to_dict, preservesPartitioning=True
        ).cache()
        self._parts.count()

    def owning_partitions(self, key_tuples: list[tuple]) -> dict[int, list]:
        """Each key's owning partition, computed ON THE DRIVER with the
        pure-Python Murmur3 (hashing.py) — zero Spark jobs, exactly the
        reference's driver-side ``partitioner.getPartition(k)``
        (IndexedRDD.scala:80-83). Key types without a driver-side hash
        fall back to one tiny hash-of-literals job."""
        nk = len(self.keys)
        by_part: dict[int, list] = {}
        if self._hashers is not None:
            for kt in key_tuples:
                p = spark_partition_of(kt, self._hashers, self.n)
                by_part.setdefault(p, []).append(kt[0] if nk == 1 else kt)
            return by_part

        from pyspark.sql import functions as F

        kdf = local_rows_df(self._spark, key_tuples, self._key_schema)
        rows = kdf.select(
            *self.keys, F.pmod(F.hash(*self.keys), F.lit(self.n)).alias("__p")
        ).collect()
        for r in rows:
            k = r[0] if nk == 1 else tuple(r[:nk])
            by_part.setdefault(r["__p"], []).append(k)
        return by_part

    def multiget(self, ks: Iterable[Any]) -> dict:
        """Probe only the owning partitions (reference IndexedRDD.scala:80-92)."""
        ks = list(ks)
        if not ks:
            return {}
        key_tuples = [k if isinstance(k, tuple) else (k,) for k in ks]
        by_part = self.owning_partitions(key_tuples)

        def probe(iterator):
            wanted = by_part.get(TaskContext.get().partitionId(), [])
            for d in iterator:  # exactly one dict per partition
                return [(k, d[k]) for k in wanted if k in d]
            return []

        sc = self._parts.context
        # runJob flattens the per-partition lists into one list of pairs
        return dict(sc.runJob(self._parts, probe, partitions=sorted(by_part)))

    def get(self, key: Any):
        return self.multiget([key]).get(key)

    def unpersist(self) -> None:
        self._parts.unpersist()
