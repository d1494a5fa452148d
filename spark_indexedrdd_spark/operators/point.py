"""The attached point index — the multiget fast path, driver-resident.

The reference keeps its index resident and answers ``multiget`` from it
(reference PARTPartition.scala:26-40, IndexedRDD.scala:79-94).
:class:`NativeHashPointIndex` keeps a frame with one integral or string
key column and one integral, boolean, floating or string value column
on the driver: it is collected once through Arrow into key-sorted numpy
arrays, and a multiget is one ``np.searchsorted`` that launches no Spark
job, so the Python/JVM boundary is crossed once at build, not on every
read. Every resident index is charged against one shared budget,
:func:`~spark_indexedrdd_spark.session.driver_budget_bytes`, with the
bytes its build holds at its peak (the Arrow table plus the arrays, a
string key or value counted as a Python object); the size is measured
with one aggregate job before the collect, not taken from Catalyst's
estimate, which can be far too low.

``IndexedDataFrame.with_point_index()`` attaches an index only when the
frame fits; any other frame keeps its reads on the JVM routes of
``IndexedDataFrame.multiget``, which are the correctness-checked default
and also answer every batch the arrays decline. Constructed directly,
the class falls back to the older owning-partition probe: one hash map
per hash partition, each key routed to its partition with Spark's own
Murmur3 on the driver (``hashing.py``) and only the owning partitions
``sc.runJob``-ed (``context.runJob(partitionsRDD, fn, partitions)``).
The probe is slower than the JVM routes at every measured batch size
and is kept only for ``bench.py`` and the benchmark's tracer hooks
(ROADMAP Direction 2 deletes it).
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Iterable
from typing import Any

import numpy as np
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_indexedrdd_spark.localframe import local_rows_df

from spark_indexedrdd_spark.core import IndexedDataFrame
from spark_indexedrdd_spark.hashing import (
    hashers_for_schema,
    spark_partition_of,
)
from spark_indexedrdd_spark.session import driver_budget_bytes

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_DRIVER_VALUES = _INTEGRAL + (
    T.BooleanType, T.FloatType, T.DoubleType, T.StringType
)
# Bytes a build holds per row and column at its peak: a fixed-width
# column is 8 B each in Arrow, in numpy, in its key-sorted copy and in
# the argsort permutation or NULL mask; a string column is a 4 B Arrow
# offset, three 8 B pointers (the to_pylist list, the object array and
# its sorted copy) and a ``str`` header of at most 80 B, plus its UTF-8
# bytes twice, Arrow's and the ``str``'s. That is exact for ASCII; a
# ``str`` mixing scripts can take up to 4 B a character.
_FIXED_ROW_BYTES = 32
_STRING_ROW_BYTES = 112
# Driver-tier indexes alive in this process; together they hold at most
# driver_budget_bytes(). A collected index drops out by itself.
_RESIDENT: weakref.WeakSet = weakref.WeakSet()
_RESIDENT_LOCK = threading.Lock()


class NativeHashPointIndex:
    """Point index over a single-value IndexedDataFrame (module
    docstring).

    Driver tier: ``_keys`` holds the non-NULL keys sorted (int64, or
    Python ``str`` in an object array — a numpy ``<U`` array would drop
    trailing ``'\\x00'``), ``_values`` the values in the same order and
    ``_nulls`` their NULL mask; rows with a NULL key are left out, since
    NULL never matches ``IN`` or an equi-join. Values come back through
    ``.tolist()``, so each is the Python object ``collect()`` gives.
    ``_charge`` is what the index counts against the shared budget.

    A frame that does not fit builds the owning-partition probe when
    ``probe`` is true (direct construction) and nothing when it is false
    (``with_point_index()``, which then attaches no index).
    ``df.repartition(n, *keys)`` places each row in physical partition
    ``pmod(murmur3_hash(keys), n)`` — verified empirically for long,
    string, and composite keys (tests/test_point_lookup.py) — so for a
    frame that follows the build contract the per-partition dicts are
    built straight off its cached partitions and a multiget routes keys
    with Spark's own partitioner (IndexedRDD.scala:42). A frame whose
    runtime partition COUNT differs from ``num_partitions`` (AQE
    coalescing) is re-laid out once with ``repartition(n, *keys)``."""

    def __init__(self, idf: IndexedDataFrame, *, probe: bool = True):
        value = idf._single_value()
        self.keys = list(idf.keys)
        self.n = idf.num_partitions
        self._spark = idf.df.sparkSession
        self._key_schema = idf.df.select(*self.keys).schema
        # driver-side Murmur3 (hashing.py) when every key type supports it;
        # None -> owning_partitions asks Spark with a hash-of-literals job
        self._hashers = hashers_for_schema(self._key_schema)
        self._keys = self._values = self._nulls = self._parts = None
        self._charge = 0
        if not self._collect_sorted(idf.df, value) and probe:
            self._parts = self._build_probe(idf)

    @property
    def resident(self) -> bool:
        """True for the driver tier."""
        return self._keys is not None

    def _collect_sorted(self, df: DataFrame, value: str) -> bool:
        """Driver tier: collect the frame once into key-sorted arrays.
        False (nothing kept) when the frame does not fit the tier."""
        kt, vt = self._key_schema[0].dataType, df.schema[value].dataType
        if not (
            len(self.keys) == 1
            and (isinstance(kt, _INTEGRAL) or kt == T.StringType())
            and isinstance(vt, _DRIVER_VALUES)
        ):
            return False
        cols = [self.keys[0], value]
        text = [c for c, t in zip(cols, (kt, vt)) if isinstance(t, T.StringType)]
        # the real size, from one aggregate job: Catalyst's estimate can
        # be far below it (a cache reports its child's stats until filled)
        row = df.agg(
            F.count(F.lit(1)), *[F.sum(F.octet_length(c)) for c in text]
        ).first()
        charge = row[0] * (
            _FIXED_ROW_BYTES * (2 - len(text)) + _STRING_ROW_BYTES * len(text)
        ) + 2 * sum(b or 0 for b in row[1:])
        with _RESIDENT_LOCK:
            held = sum(ix._charge for ix in _RESIDENT)
            if charge > driver_budget_bytes() - held:
                return False
            self._charge = charge
            _RESIDENT.add(self)
        try:
            table = df.select(*cols).toArrow()
        except Exception:  # e.g. spark.driver.maxResultSize: use the JVM
            self._release()
            return False
        kcol, vcol = table.column(0), table.column(1)
        if kcol.null_count:
            live = kcol.is_valid()
            kcol, vcol = kcol.filter(live), vcol.filter(live)
        if isinstance(kt, T.StringType):
            keys = np.array(kcol.to_pylist(), dtype=object)
        else:
            keys = kcol.to_numpy().astype(np.int64)
        if isinstance(vt, T.StringType):
            values = np.array(vcol.to_pylist(), dtype=object)
        else:
            # fill before to_numpy: with NULLs present Arrow would hand
            # an integral column back as float64
            fill = False if isinstance(vt, T.BooleanType) else 0
            values = vcol.fill_null(fill).to_numpy()
        order = np.argsort(keys, kind="stable")
        self._keys = keys[order]
        self._values = values[order]
        self._nulls = vcol.is_null().to_numpy()[order]
        return True

    def _release(self) -> None:
        with _RESIDENT_LOCK:
            _RESIDENT.discard(self)
            self._charge = 0

    def _build_probe(self, idf: IndexedDataFrame):
        """The owning-partition probe: one cached dict per hash partition."""
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
        parts = base.mapPartitions(to_dict, preservesPartitioning=True).cache()
        parts.count()
        return parts

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

        kdf = local_rows_df(self._spark, key_tuples, self._key_schema)
        rows = kdf.select(
            *self.keys, F.pmod(F.hash(*self.keys), F.lit(self.n)).alias("__p")
        ).collect()
        for r in rows:
            k = r[0] if nk == 1 else tuple(r[:nk])
            by_part.setdefault(r["__p"], []).append(k)
        return by_part

    def multiget(self, ks: Iterable[Any]) -> dict | None:
        """Driver tier: ``searchsorted`` over the sorted keys, no Spark
        job. Returns None for a batch it cannot answer exactly — a key
        that is not a Python ``int`` within int64 (``bool`` excluded) on
        an integral key column, or not a ``str`` on a string one — so the
        caller takes a JVM route, which applies Spark's type coercion.
        Probe: only the owning partitions run (reference
        IndexedRDD.scala:80-92)."""
        ks = list(ks)
        if not ks:
            return {}
        if self.resident:
            return self._search(ks)
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

    def _search(self, ks: list) -> dict | None:
        if self._keys.dtype == object:
            if not all(isinstance(k, str) for k in ks):
                return None
            q = np.array(ks, dtype=object)
        else:
            if not all(isinstance(k, int) and not isinstance(k, bool) for k in ks):
                return None
            try:
                q = np.array(ks, dtype=np.int64)
            except OverflowError:
                return None
        if not len(self._keys):
            return {}
        pos = np.minimum(np.searchsorted(self._keys, q), len(self._keys) - 1)
        hit = self._keys[pos] == q
        at = pos[hit]
        vals = self._values[at].tolist()
        for i in np.flatnonzero(self._nulls[at]):
            vals[i] = None
        return dict(zip(q[hit].tolist(), vals))

    def get(self, key: Any):
        res = self.multiget([key])
        if res is None:
            raise TypeError(
                f"key {key!r} does not match the key column's type; "
                "IndexedDataFrame.get answers it through a JVM route"
            )
        return res.get(key)

    def unpersist(self) -> None:
        self._keys = self._values = self._nulls = None
        self._release()
        if self._parts is not None:
            self._parts.unpersist()
