"""IndexedDataFrame — the distributed, immutable, unique-key map.

This is the PySpark-native re-expression of the reference's
``IndexedRDD[K, V]`` (reference IndexedRDD.scala:29-40): a DataFrame of
``(key cols…, value cols…)`` rows with

1. **unique keys** — duplicates merged at build time by a pluggable,
   deterministic merge expression (reference merges "arbitrarily",
   IndexedRDD.scala:463; we pick a deterministic rule so results are
   oracle-checkable);
2. **hash partitioning by key** — ``df.repartition(n, *keys)``; the
   partitioner is the global half of the index (IndexedRDD.scala:42,479-481).
   Catalyst's EnsureRequirements elides the exchange on later key-joins
   between co-partitioned IndexedDataFrames — the DataFrame analog of the
   reference's zero-shuffle ``zipIndexedRDDPartitions`` path
   (IndexedRDD.scala:185-198). Keyed folds and delete batches land in
   that same layout at any ``spark.sql.shuffle.partitions``, so a write
   shuffles only its batch, never the base;
3. **a materialized form** — ``build``/``from_unique`` cache the
   columnar form and ``reindex()`` checkpoints a version with its lineage
   cut and its key hash partitioning kept; either stands in for the
   per-partition ART index (PARTPartition.scala:26-40). An un-indexed
   point read runs one JVM job on one of two routes: a single-column
   ``key IN (...)`` filter with short-circuit scan, or a left semi-join
   against the key batch for composite keys, literals the IN renderer
   refuses and batches over 512 keys. The optional point index attached
   by ``with_point_index()`` (``operators/point.py``) keeps the index
   resident like the reference (PARTPartition.scala:26-40): a frame
   within ``driver_budget_bytes()`` is answered from driver-side sorted
   arrays with no Spark job; any other frame keeps the JVM routes.

Every mutation (put/multiput/delete/…) is **functional**: it returns a new
IndexedDataFrame and leaves the parent usable — the reference achieves this
with O(1) copy-on-write tree snapshots (PARTPartition.scala:53-69); Spark
gives it for free because DataFrames are immutable plans. Each multiput or
delete nests one join in the plan, so a result 64 ops past its last cut
comes back through ``reindex()``.

Value-type generality: the reference's opaque ``V`` maps to one or more
typed value columns (structs/arrays/maps welcome). Merge/join functions are
column-expression builders ``(Column, Column) -> Column`` so the whole
operator surface stays inside Catalyst/whole-stage-codegen (no Python UDF
in any hot path).

Composite keys (the reference's Tuple2Serializer, KeySerializer.scala:145-176)
are first-class: ``keys`` is a list of columns and every operator threads it
through.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterable, Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_indexedrdd_spark.checkpoint import truncate_lineage
from spark_indexedrdd_spark.localframe import local_rows_df

# (old_value, new_value) -> merged_value, as Column expressions.
MergeFn = Callable[[Column, Column], Column]
# new_value -> initial_value for keys absent from the base (reference `z`,
# IndexedRDD.scala:107-121).
InitFn = Callable[[Column], Column]

OVERWRITE: MergeFn = lambda old, new: new  # noqa: E731  (reference default: last wins)
KEEP_OLD: MergeFn = lambda old, new: old  # noqa: E731
SUM_MERGE: MergeFn = lambda old, new: old + new  # noqa: E731
IDENTITY: InitFn = lambda new: new  # noqa: E731

# Mutations a multiput/delete result may stack past its last cut before it
# comes back through reindex(): each one nests a join in the plan, and an
# un-reindexed chain of 401 overflowed the analyzer's stack.
_MAX_CHAIN = 64
# one reindex() at a time switches the session's AQE flag off and back
_AQE_SWITCH = threading.Lock()
# Largest single-key batch the IN route takes; larger ones take the
# semi-join. Measured on 1M long keys, 8 partitions, local[4], median of
# 5 in alternating order, two runs, IN vs semi-join: 136/135 vs 216/161 ms
# at 256 keys, 165/141 vs 180/141 at 512, 184/136 vs 152/129 at 1024,
# 207/167 vs 133/110 at 2048.
_IN_MAX_KEYS = 512


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _keyed_fold(
    df: DataFrame, keys: list[str], n: int, f: MergeFn, value: str
) -> DataFrame:
    """Fold column ``value`` of ``df`` per key with ``f``, in the index
    layout: the frame moves once into ``hashpartitioning(keys, n)`` and
    the aggregate runs there, so the result needs no further exchange
    and a join against a base of ``n`` partitions leaves the base where
    it is (the reference probes update keys into the partitions that
    already exist, PARTPartition.scala:51-61). A ``collect_list`` fold
    moves every value across the shuffle anyway, so skipping map-side
    partial aggregation costs nothing.

    ``collect_list`` silently drops NULL elements, so folding the raw
    column would make a NULL value vanish from the reduce. Wrap each value
    in a single-field struct (a struct containing a NULL field is itself
    non-NULL) and thread an explicit ``has`` flag through the reduce
    instead of branching on value nullness — the Column analog of the
    reference's Option-based fold (PARTPartition.scala:56-60)."""
    zero = F.struct(
        F.lit(False).alias("has"),
        F.lit(None).cast(df.schema[value].dataType).alias("v"),
    )
    folded = F.reduce(
        F.collect_list(F.struct(F.col(value).alias("v"))),
        zero,
        lambda acc, x: F.struct(
            F.lit(True).alias("has"),
            F.when(acc["has"], f(acc["v"], x["v"]))
            .otherwise(x["v"])
            .alias("v"),
        ),
    )["v"]
    return df.repartition(n, *keys).groupBy(*keys).agg(folded.alias(value))


_SQL_SAFE_STR = __import__("re").compile(r"[^'\"\\\x00-\x1f`]*\Z")


def _sql_literal(v: Any) -> str | None:
    """Conservative SQL-literal rendering for IN-list construction.
    Returns None for anything that can't be inlined verbatim-safely
    (quotes/backslashes/control chars, NaN/inf, Decimal, timestamps) —
    the multiget batch then takes the semi-join instead. The IN list is
    one parsed SQL string because a Column membership predicate does
    one py4j round trip PER literal (~0.6ms each — 0.6s for a 1k-key
    multiget); the parsed string costs ~3ms total."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return None
        return repr(v)
    if isinstance(v, str) and _SQL_SAFE_STR.match(v):
        return "'" + v + "'"
    return None


# Driver-side equivalents of the merge projection's cast-to-base-dtype,
# for multiput value validation and the point-read overlay. Each coercer
# is EXACT: it either produces the same value the plan's cast would, or
# raises — never a silent cross-kind conversion (``multiput({1: 5})`` on
# a string column raises TypeError instead of storing "5") and never a
# lossy representation (FloatType round-trips through an IEEE float32 so
# an overlay-served ``get`` matches the plan bit-for-bit). Types outside
# this map simply skip the coercion and the overlay.


def _numeric_guard(x: Any, col_kind: str) -> None:
    # bool is an int subclass but putting True into a numeric column is a
    # kind error, not a narrowing — reject it too.
    if isinstance(x, bool) or not isinstance(x, (int, float)):
        raise TypeError(
            f"cannot store {type(x).__name__} value {x!r} in a {col_kind} "
            f"column; multiput coerces within a kind only (numeric<->numeric)"
        )


def _int_coercer(bits: int, kind: str) -> Callable[[Any], int]:
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1

    def coerce(x: Any) -> int:
        _numeric_guard(x, kind)
        i = int(x)
        if not (lo <= i <= hi):
            raise ValueError(f"value {x!r} out of range for {kind} column")
        return i

    return coerce


def _float32_coerce(x: Any) -> float:
    _numeric_guard(x, "float")
    import struct as _struct

    return _struct.unpack("<f", _struct.pack("<f", float(x)))[0]


def _float64_coerce(x: Any) -> float:
    _numeric_guard(x, "double")
    return float(x)


def _string_coerce(x: Any) -> str:
    if not isinstance(x, str):
        raise TypeError(
            f"cannot store {type(x).__name__} value {x!r} in a string column"
        )
    return x


def _bool_coerce(x: Any) -> bool:
    if not isinstance(x, bool):
        raise TypeError(
            f"cannot store {type(x).__name__} value {x!r} in a boolean column"
        )
    return x


_OVERLAY_COERCERS: dict[str, Callable[[Any], Any]] = {
    "byte": _int_coercer(8, "byte"),
    "short": _int_coercer(16, "short"),
    "integer": _int_coercer(32, "integer"),
    "long": _int_coercer(64, "long"),
    "float": _float32_coerce,
    "double": _float64_coerce,
    "string": _string_coerce,
    "boolean": _bool_coerce,
}

# Python mirrors of the merge expressions whose driver-side evaluation is
# provably identical to the plan's JVM evaluation, per value dtype. Used
# by the merged-version point-read overlay (reference LazyPartition
# member probing, LazyPartition.scala:43-46): a get() after
# multiput(f=SUM_MERGE) probes the parent for the old value and applies
# the merge driver-side instead of executing the full-outer-join plan.
# long: depends on the session's ANSI mode — under
# spark.sql.ansi.enabled=false Java's + wraps at 64 bits (mirror with an
# explicit wrap); under ANSI (the Spark 4 default) long+long overflow
# raises ARITHMETIC_OVERFLOW, so the mirror raises too instead of
# returning a value the plan would refuse to produce. double: IEEE
# binary64 addition is identical in Python and the JVM in either mode.
# Other dtypes (float32 double-rounding, small-int wrap chains) are
# excluded rather than risk a divergent overlay answer.


def _wrap64(i: int) -> int:
    return ((i + (1 << 63)) % (1 << 64)) - (1 << 63)


def _ansi_add64(old: int, new: int) -> int:
    s = old + new
    if not -(1 << 63) <= s < (1 << 63):
        raise ArithmeticError(
            "long overflow in point-merge overlay (ANSI mode): executing "
            "the plan would raise ARITHMETIC_OVERFLOW for this key"
        )
    return s


def _null_prop(fn: Callable[[Any, Any], Any]) -> Callable[[Any, Any], Any]:
    # mirror SQL three-valued arithmetic: NULL op x = NULL
    return lambda old, new: (
        None if old is None or new is None else fn(old, new)
    )


_KEEP_OLD_DTYPES = frozenset({"long", "double", "string", "boolean", "integer"})


def _py_point_merge_for(
    f: Any, dt: str, ansi: bool
) -> Callable[[Any, Any], Any] | None:
    """The driver-side mirror of merge ``f`` on value dtype ``dt``, or
    None if no provably-JVM-identical mirror exists for the session's
    ANSI mode."""
    if f is KEEP_OLD and dt in _KEEP_OLD_DTYPES:
        return lambda old, new: old
    if f is SUM_MERGE:
        if dt == "double":
            return _null_prop(lambda old, new: old + new)
        if dt == "long":
            return _null_prop(_ansi_add64 if ansi else (
                lambda old, new: _wrap64(old + new)
            ))
    return None


class IndexedDataFrame:
    """A distributed unique-key map K -> V backed by a DataFrame.

    Parameters
    ----------
    df : DataFrame with columns ``keys + value_cols`` (unique keys assumed —
        use :meth:`build` to enforce).
    keys : ordered key column names (>=1; >1 = composite key).
    num_partitions : the hash-partition count contract. Joins between two
        IndexedDataFrames with equal ``num_partitions`` and key layout are
        exchange-free once both sides are materialized.
    """

    def __init__(self, df: DataFrame, keys: Sequence[str], num_partitions: int):
        self.keys = _as_list(keys)
        missing = [k for k in self.keys if k not in df.columns]
        if missing:
            raise ValueError(f"key columns {missing} not in DataFrame {df.columns}")
        self.df = df
        self.num_partitions = int(num_partitions)
        self.value_cols = [c for c in df.columns if c not in self.keys]
        # Point-read overlay (reference PARTPartition copy-on-write point
        # ops, PARTPartition.scala:40-69): set ONLY by no-merge multiput /
        # delete. The df plan stays authoritative; the overlay mirrors
        # exactly what the plan computes for those keys so point reads
        # skip the cluster round-trip. Never inherited by derived frames.
        self._point_parent: "IndexedDataFrame | None" = None
        self._point_overlay: dict | None = None
        self._point_tombstones: frozenset | None = None
        # None = overlay values are final (overwrite/delete); (f, dtype) =
        # merge-multiput overlay: get() probes the parent for the old
        # value and applies the Python mirror of f driver-side. Stored as
        # a SPEC, not a resolved callable: the ANSI flag is runtime-
        # settable, so the mirror is resolved against the session conf at
        # READ time — a get() after toggling spark.sql.ansi.enabled
        # behaves exactly as executing the plan then would.
        self._point_merge_spec: tuple[Any, str] | None = None
        # optional attached NativeHashPointIndex (with_point_index())
        self._pindex = None
        # ops derived since the last cut (build or reindex)
        self._chain = 0

    # ------------------------------------------------------------------ #
    # Construction (reference ops 1-2: IndexedRDD.scala:461-486)
    # ------------------------------------------------------------------ #

    @classmethod
    def build(
        cls,
        df: DataFrame,
        keys: str | Sequence[str],
        num_partitions: int | None = None,
        merge: MergeFn | None = None,
        order_col: str | None = None,
        cache: bool = True,
    ) -> "IndexedDataFrame":
        """Construct from a possibly-duplicated-key DataFrame.

        Reference: ``IndexedRDD(elems)`` / ``updatable(elems, z, f)``
        (IndexedRDD.scala:461-486; build loop PARTPartition.scala:208-225):
        hash-partition by key, fold duplicate keys.

        Duplicate handling (deterministic, unlike the reference's
        "arbitrary" default):

        - ``merge=None``: keep the row with the max value of ``order_col``
          (or of the first value column) per key — a deterministic
          "last wins".
        - ``merge=fn``: fold all values per key with ``fn`` — requires a
          single value column and an associative+commutative ``fn``
          (e.g. ``SUM_MERGE``); the rows fold in the index layout
          (:func:`_keyed_fold`).

        ``merge=None`` keeps map-side partial aggregation and ends in
        ``repartition(n, *keys)``, which Spark drops when the aggregate
        already landed in that layout.
        """
        key_list = _as_list(keys)
        n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        n = int(n)
        value_cols = [c for c in df.columns if c not in key_list]

        if merge is not None:
            if len(value_cols) != 1:
                raise ValueError("merge fn requires exactly one value column")
            out = _keyed_fold(df, key_list, n, merge, value_cols[0])
        else:
            ord_c = order_col or (value_cols[0] if value_cols else None)
            if ord_c is None:  # key-only frame: plain distinct
                deduped = df.dropDuplicates(key_list)
            else:
                # max_by is a single hash aggregate (partial+final), no window
                # sort — survives skewed keys far better than row_number.
                # The winning ROW is picked once (one max_by over the packed
                # value struct) so all value columns come from the same
                # source row — per-column max_by could stitch a "torn" row
                # that never existed when order_col ties.
                winner = F.max_by(
                    F.struct(*value_cols),
                    F.struct(F.col(ord_c), *[F.col(c) for c in value_cols]),
                ).alias("__w")
                deduped = df.groupBy(*key_list).agg(winner).select(
                    *key_list, *[F.col("__w")[c].alias(c) for c in value_cols]
                )
            out = deduped.repartition(n, *key_list)
        if cache:
            out = out.cache()
        return cls(out, key_list, n)

    @classmethod
    def from_unique(
        cls,
        df: DataFrame,
        keys: str | Sequence[str],
        num_partitions: int | None = None,
        cache: bool = True,
    ) -> "IndexedDataFrame":
        """Construct from a DataFrame already known to have unique keys
        (skips the dedupe aggregate; still installs the partitioning
        contract, reference IndexedRDD.scala:479-481)."""
        key_list = _as_list(keys)
        n = int(
            num_partitions
            or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        out = df.repartition(n, *key_list)
        if cache:
            out = out.cache()
        return cls(out, key_list, n)

    # ------------------------------------------------------------------ #
    # Internals
    # ------------------------------------------------------------------ #

    def _derive(self, df: DataFrame) -> "IndexedDataFrame":
        """Wrap a derived plan that preserves key layout + partitioning."""
        out = IndexedDataFrame(df, self.keys, self.num_partitions)
        out._chain = self._chain + 1
        return out

    def _mutated(self, df: DataFrame) -> "IndexedDataFrame":
        """:meth:`_derive` for a multiput/delete result, which comes back
        through :meth:`reindex` once it is ``_MAX_CHAIN`` ops past its
        last cut."""
        out = self._derive(df)
        return out.reindex() if out._chain >= _MAX_CHAIN else out

    def _single_value(self) -> str:
        if len(self.value_cols) != 1:
            raise ValueError(
                f"operation requires a single value column, have {self.value_cols}"
            )
        return self.value_cols[0]

    def _key_tuple(self, k: Any) -> tuple:
        return k if isinstance(k, tuple) else (k,)

    def _align(self, other: "IndexedDataFrame | DataFrame") -> DataFrame:
        """Accept either an IndexedDataFrame or a plain DataFrame of
        (key…, value…) rows — the reference's every-op-accepts-RDD[(K,V)]
        interop (IndexedRDD.scala:222-283; align path :193-198). Catalyst
        inserts the exchange for the un-indexed side automatically; the
        indexed base never reshuffles."""
        df = other.df if isinstance(other, IndexedDataFrame) else other
        missing = [k for k in self.keys if k not in df.columns]
        if missing:
            raise ValueError(f"other side missing key columns {missing}")
        return df

    # ------------------------------------------------------------------ #
    # Reads (ops 3-4, 19-20)
    # ------------------------------------------------------------------ #

    def get(self, key: Any) -> Any:
        """Point lookup (reference IndexedRDD.scala:76 via multiget;
        kernel PARTPartition.scala:40). Returns the value (scalar if a
        single value column, else a Row), or None."""
        res = self.multiget([key])
        return res.get(self._key_tuple(key) if len(self.keys) > 1 else key)

    def _resolve_point_merge(self) -> Callable[[Any, Any], Any] | None:
        """Resolve the merge-overlay's Python mirror against the
        session's CURRENT ANSI mode (the flag is runtime-settable; a
        snapshot at multiput() time could disagree with what executing
        the plan at read time would do)."""
        f, dt = self._point_merge_spec
        ansi = (
            str(
                self.df.sparkSession.conf.get("spark.sql.ansi.enabled", "true")
            ).lower()
            == "true"
        )
        return _py_point_merge_for(f, dt, ansi)

    def multiget(self, ks: Iterable[Any]) -> dict:
        """Batch point lookup (reference IndexedRDD.scala:79-94).

        One JVM job over the cached columnar form, on one of two routes
        chosen from the deduplicated batch:

        - a single-column key whose literals all render through
          :func:`_sql_literal`, at most ``_IN_MAX_KEYS`` (512) of them:
          ``key IN (...)`` filter + collect (Catalyst short-circuits
          non-matching batches via in-memory column stats);
        - any other batch (composite keys, quotes, NaN, ``Decimal``,
          timestamps, larger batches): left semi-join against the batch
          as a local relation, which the planner broadcasts.

        A batch over ``_IN_MAX_KEYS`` whose keys do not fit the key
        column's type (an int beyond int32 on an ``int`` key) cannot be
        made a local relation; it takes the ``IN`` filter, which widens
        and reports such keys as misses.

        With ``with_point_index()`` attached, its driver-side sorted
        arrays answer first, with no Spark job. A batch they cannot
        compare exactly (a key of the wrong Python type) takes the
        routes above. Mutated versions answer their own
        puts/deletes from a driver-side overlay first. Missing keys are
        absent from the result (reference :93).
        """
        key_tuples = [self._key_tuple(k) for k in ks]
        if not key_tuples:
            return {}
        if self._pindex is not None:
            # attached (single-key) index; None = a batch it declines
            res = self._pindex.multiget([kt[0] for kt in key_tuples])
            if res is not None:
                return res
        if self._point_parent is not None and (
            self._point_merge_spec is None
            or (pm := self._resolve_point_merge()) is not None
        ):
            # overlay fast path: answer puts/deletes driver-side, send
            # only the remainder to the (pre-mutation) parent. For a
            # merge-multiput version, overlay keys still probe the parent
            # for the old value (the reference LazyPartition's member
            # probing, LazyPartition.scala:43-46) — but the merge itself
            # runs driver-side, so the full-outer-join plan never
            # executes. If the CURRENT session mode has no provable
            # driver-side mirror for the merge, this block is skipped and
            # the lookup executes the plan instead (correct, just slower).
            if self._point_merge_spec is None:
                pm = None
            single = len(self.keys) == 1
            key_tuples = list(dict.fromkeys(key_tuples))
            out: dict = {}
            probe: list = []  # keys the parent must answer
            merge_keys: list[tuple] = []  # overlay keys needing old value
            for kt in key_tuples:
                if kt in self._point_tombstones:
                    continue
                k = kt[0] if single else kt
                if kt in self._point_overlay:
                    if pm is None:
                        out[k] = self._point_overlay[kt]
                    else:
                        merge_keys.append((kt, k))
                        probe.append(k)
                else:
                    probe.append(k)
            parent_res = self._point_parent.multiget(probe) if probe else {}
            merged_away = set()
            for kt, k in merge_keys:
                new = self._point_overlay[kt]
                if k in parent_res:
                    out[k] = pm(parent_res[k], new)
                    merged_away.add(k)
                else:
                    out[k] = new  # absent key -> z(new), z is IDENTITY here
            out.update(
                {k: val for k, val in parent_res.items() if k not in merged_away}
            )
            return out
        # Two routes. Measured on 1M keys, 8 partitions, local[4],
        # median of 5: a composite batch rendered as an OR-of-ANDs
        # filter took 0.7 s at 16 keys and 14 s at 256 (its generated
        # code grows past 64 KB, so whole-stage codegen is dropped); the
        # semi-join takes 0.33-0.35 s from 1 to 1024 keys. Single-key IN
        # vs semi-join: see _IN_MAX_KEYS.
        key_tuples = list(dict.fromkeys(key_tuples))
        cond = self._in_condition(key_tuples)
        if cond is None:
            try:
                keys_df = local_rows_df(
                    self.df.sparkSession,
                    key_tuples,
                    self.df.select(*self.keys).schema,
                )
            except (TypeError, ValueError):
                # a key outside the key column's type: only IN takes it
                cond = self._in_condition(key_tuples, max_keys=None)
                if cond is None:
                    raise
        if cond is not None:
            rows = self.df.where(cond).collect()
        else:
            rows = self.df.join(keys_df, on=self.keys, how="left_semi").collect()
        return self._rows_to_dict(rows)

    def _in_condition(
        self, key_tuples: list[tuple], max_keys: int | None = _IN_MAX_KEYS
    ) -> Column | None:
        """``key IN (...)`` as ONE parsed SQL expression, or None when the
        batch takes the semi-join: a composite key, a literal
        :func:`_sql_literal` refuses, or more than ``max_keys``."""
        if len(self.keys) != 1 or (
            max_keys is not None and len(key_tuples) > max_keys
        ):
            return None
        lits = [_sql_literal(t[0]) for t in key_tuples]
        if None in lits:
            return None
        return F.expr(f"`{self.keys[0]}` IN ({','.join(lits)})")

    def _rows_to_dict(self, rows) -> dict:
        single = len(self.value_cols) == 1
        out = {}
        for r in rows:
            k = tuple(r[c] for c in self.keys)
            key = k[0] if len(self.keys) == 1 else k
            out[key] = r[self.value_cols[0]] if single else r
        return out

    def with_point_index(self) -> "IndexedDataFrame":
        """Attach a driver-resident :class:`NativeHashPointIndex` (the
        reference's stance that the index IS the data structure,
        IndexedRDD.scala:39-45). A single-key frame of integral or string
        keys and an integral, boolean, floating or string value that fits
        what is left of ``driver_budget_bytes()`` is sized with one
        aggregate job, collected once into driver-side sorted arrays, and
        every subsequent ``get``/``multiget`` answers from them with no
        Spark job. Any other frame attaches nothing and keeps its reads
        on the JVM routes; calling again re-checks. Built once, reused;
        returns self for chaining. Later put/delete versions answer their
        own mutations from the overlay and route the remainder here — no
        rebuild per version (the reference's shared-index property).
        Single-value frames only (the only frames ``multiget`` routes to
        an index); raises ``ValueError`` otherwise."""
        if self._pindex is None:
            from spark_indexedrdd_spark.operators.point import (
                NativeHashPointIndex,
            )

            ix = NativeHashPointIndex(self, probe=False)
            if ix.resident:
                self._pindex = ix
        return self

    def count(self) -> int:
        """Entry count (reference IndexedRDD.scala:66-68)."""
        return self.df.count()

    def to_df(self) -> DataFrame:
        """Full scan / pair-view (reference compute(), IndexedRDD.scala:71-73)."""
        return self.df

    def collect(self):
        return self.df.collect()

    # ------------------------------------------------------------------ #
    # Functional mutation (ops 5-8)
    # ------------------------------------------------------------------ #

    def put(self, key: Any, value: Any) -> "IndexedDataFrame":
        """Functional point upsert (reference IndexedRDD.scala:96-103);
        the parent IndexedDataFrame is unchanged."""
        return self.multiput({key: value})

    def multiput(
        self,
        kvs: Mapping[Any, Any],
        f: MergeFn = OVERWRITE,
        z: InitFn = IDENTITY,
    ) -> "IndexedDataFrame":
        """Batch functional upsert from a driver-side map
        (reference IndexedRDD.scala:105-153; kernel PARTPartition.scala:51-61).

        Existing key -> ``f(old, new)``; absent key -> ``z(new)``.
        The driver map becomes a local relation that :meth:`multiput_df`
        folds into the index layout: only the batch shuffles, the base
        never moves.

        Value coercion is STRICT: values must match the value column's
        kind. Cross-kind conversions raise ``TypeError`` (bool into a
        numeric column, str into a numeric column, non-str into a string
        column) and out-of-range ints raise ``ValueError`` — before any
        DataFrame is built — rather than silently storing ``int(True)``
        or ``int("5")``. Within-kind narrowing (int into double, float
        into float32) coerces exactly as the plan's cast would.
        """
        v = self._single_value()
        spark = self.df.sparkSession
        coerce = _OVERLAY_COERCERS.get(self.df.schema[v].dataType.typeName())
        vals = {
            k: (val if val is None or coerce is None else coerce(val))
            for k, val in kvs.items()
        }
        rows = [(*self._key_tuple(k), val) for k, val in vals.items()]
        updates = local_rows_df(
            spark, rows, self.df.select(*self.keys, v).schema
        )
        out = self.multiput_df(updates, f=f, z=z)
        # a version the chain bound cut answers from its materialized
        # form: an overlay would pin the parents the cut dropped
        if out._chain and z is IDENTITY and coerce is not None:
            # Point-read overlay. Two flavors:
            # - f=OVERWRITE: the merged value IS the driver-supplied value,
            #   so reads are answered entirely from the overlay.
            # - f is a recognized merge (SUM_MERGE/KEEP_OLD) on a dtype
            #   whose driver-side evaluation provably matches the JVM's:
            #   reads probe the parent for the old value and merge
            #   driver-side (reference LazyPartition.scala:43-46).
            # Values were coerced exactly as the merge projection's cast
            # would; unknown types skipped the overlay above.
            # Mirror EXISTENCE is checked here (mode-independent: every
            # supported merge/dtype has a mirror under both ANSI modes);
            # the mirror itself is resolved at READ time against the
            # session's then-current ANSI flag (_resolve_point_merge).
            dt = self.df.schema[v].dataType.typeName()
            mergeable = f is not OVERWRITE and (
                _py_point_merge_for(f, dt, True) is not None
                or _py_point_merge_for(f, dt, False) is not None
            )
            if f is OVERWRITE or mergeable:
                out._point_parent = self
                out._point_overlay = {
                    self._key_tuple(k): val for k, val in vals.items()
                }
                out._point_tombstones = frozenset()
                out._point_merge_spec = None if f is OVERWRITE else (f, dt)
        return out

    def multiput_df(
        self,
        updates: DataFrame | "IndexedDataFrame",
        f: MergeFn = OVERWRITE,
        z: InitFn = IDENTITY,
    ) -> "IndexedDataFrame":
        """Distributed batch upsert (reference multiputRDD,
        IndexedRDD.scala:122-164; kernel PARTPartition.scala:51-61).

        Full outer join on key + merge projection — the DataFrame
        formulation of MERGE WHEN MATCHED / WHEN NOT MATCHED:

        - both present -> ``f(old, new)``
        - only base    -> old value unchanged
        - only updates -> ``z(new)``

        Updates may carry duplicate keys; they are folded with ``f`` in
        the index layout (:func:`_keyed_fold`), so only the updates side
        shuffles, at any partition count. (Full outer joins cannot
        broadcast a side; the SHUFFLE_HASH hint below is the fast path
        for small batches.) A result 64 ops past its last cut is
        returned reindexed.
        """
        v = self._single_value()
        up = self._align(updates)
        uv = [c for c in up.columns if c not in self.keys]
        if len(uv) != 1:
            raise ValueError(f"updates must have one value column, got {uv}")
        up = up.withColumnRenamed(uv[0], "__u") if uv[0] != "__u" else up
        # Fold duplicate update keys with f (same contract as the kernel's
        # sequential probe-insert loop, PARTPartition.scala:56-60); NULL
        # update values are legal and survive the fold.
        up = _keyed_fold(up, self.keys, self.num_partitions, f, "__u").withColumn(
            "__has_u", F.lit(True)
        )
        # Presence marker on the base too: a key whose base value is NULL
        # is still PRESENT and must get f(old, new), not z(new) —
        # branching on value nullness would conflate the two (the
        # reference distinguishes them via Option, IndexedRDD.scala:105-164).
        base = self.df.withColumn("__has_b", F.lit(True))
        # FULL OUTER with a SHUFFLE_HASH hint on the updates side.
        # Full outer joins can't broadcast either side, and the default
        # sort-merge would SORT the whole base per multiput. The shuffled
        # hash join instead builds a hash table from the (small) updates
        # per partition and probes/streams the base — the exact Spark
        # analog of the reference kernel's tree-probe multiput
        # (PARTPartition.scala:51-61): base never re-shuffles (it already
        # satisfies the hash distribution), never sorts, and the output
        # keeps the key partitioning contract.
        joined = base.join(up.hint("SHUFFLE_HASH"), on=self.keys, how="full")
        merged = (
            F.when(F.col("__has_u").isNull(), F.col(v))
            .when(F.col("__has_b").isNull(), z(F.col("__u")))
            .otherwise(f(F.col(v), F.col("__u")))
            .cast(self.df.schema[v].dataType)
            .alias(v)
        )
        return self._mutated(joined.select(*self.keys, merged))

    def delete(self, ks: Iterable[Any]) -> "IndexedDataFrame":
        """Functional batch delete (reference IndexedRDD.scala:166-175;
        kernel PARTPartition.scala:63-69): left anti join against the
        batch as a local relation, which the planner broadcasts under
        the auto-broadcast threshold; above it :meth:`delete_df` has put
        the batch in the index layout, so the base never moves. Deleting an
        absent key is a no-op (IndexedRDDSuite.scala:216). A result 64
        ops past its last cut is returned reindexed."""
        spark = self.df.sparkSession
        rows = [self._key_tuple(k) for k in ks]
        if not rows:
            return self
        dels = local_rows_df(spark, rows, self.df.select(*self.keys).schema)
        out = self.delete_df(dels)
        if out._chain:
            # deletes are value-independent: point reads of deleted keys
            # are answered driver-side (absent), the rest by the parent
            out._point_parent = self
            out._point_overlay = {}
            out._point_tombstones = frozenset(rows)
        return out

    def delete_df(self, dels: DataFrame) -> "IndexedDataFrame":
        d = dels.select(*self.keys).repartition(self.num_partitions, *self.keys)
        d = d.dropDuplicates(self.keys)
        return self._mutated(self.df.join(d, on=self.keys, how="left_anti"))

    # ------------------------------------------------------------------ #
    # Projection / predicate (ops 9-10)
    # ------------------------------------------------------------------ #

    def filter(self, pred: Column) -> "IndexedDataFrame":
        """Keep entries satisfying ``pred`` (reference IndexedRDD.scala:207-208).
        Partitioning is preserved (a filter never changes distribution) —
        the property the reference maintains with
        ``preservesPartitioning=true`` (IndexedRDD.scala:180)."""
        return self._derive(self.df.where(pred))

    def map_values(
        self, fn: Callable[..., Column | dict[str, Column]], alias: str | None = None
    ) -> "IndexedDataFrame":
        """Transform values, keys/partitioning preserved (reference
        IndexedRDD.scala:210-216; kernel PARTPartition.scala:71-75).

        ``fn`` receives one Column per current value column, *prefixed by
        the key columns* if its arity asks for them (both reference
        overloads: ``f: V=>V2`` and ``f: (K,V)=>V2``). Returns either a
        single Column (aliased ``alias`` or the existing single value
        name) or a dict of named Columns (multi-column value output —
        a superset of the reference)."""
        import inspect

        nargs = len(inspect.signature(fn).parameters)
        vcols = [F.col(c) for c in self.value_cols]
        kcols = [F.col(c) for c in self.keys]
        args = (kcols + vcols) if nargs == len(self.keys) + len(vcols) else vcols
        res = fn(*args)
        if isinstance(res, dict):
            out = self.df.select(*self.keys, *[c.alias(n) for n, c in res.items()])
        else:
            name = alias or self._single_value()
            out = self.df.select(*self.keys, res.alias(name))
        return self._derive(out)

    # ------------------------------------------------------------------ #
    # Joins + diff (ops 11-15)
    # ------------------------------------------------------------------ #

    def diff(self, other: "IndexedDataFrame | DataFrame") -> "IndexedDataFrame":
        """Changed-rows detector (reference IndexedRDD.scala:218-227;
        kernel PARTPartition.scala:85-101): keys present in BOTH sides
        whose values differ, keeping *this* side's value. NOT set-minus
        (IndexedRDDSuite.scala:61-77)."""
        other_df = self._align(other)
        ov = [c for c in other_df.columns if c not in self.keys]
        renamed = other_df.select(
            *self.keys, *[F.col(c).alias(f"__o_{c}") for c in ov]
        )
        cond = None
        for mine, theirs in zip(self.value_cols, [f"__o_{c}" for c in ov]):
            # null-safe inequality so NULL-valued entries compare sanely
            c = ~F.col(mine).eqNullSafe(F.col(theirs))
            cond = c if cond is None else (cond | c)
        out = (
            self.df.join(renamed, on=self.keys, how="inner")
            .where(cond)
            .select(*self.keys, *self.value_cols)
        )
        return self._derive(out)

    def full_outer_join(
        self,
        other: "IndexedDataFrame | DataFrame",
        f: MergeFn,
        alias: str = "v",
    ) -> "IndexedDataFrame":
        """Full outer join (reference IndexedRDD.scala:229-252; kernel
        PARTPartition.scala:103-135). ``f(left, right)`` sees NULL for the
        missing side — the Column analog of the reference's
        ``(K, Option[V], Option[V2]) => W``. The reference's maybeLazy
        incremental view (LazyPartition.scala:29-46) is subsumed by plan
        laziness: stacked full_outer_joins execute once at the action."""
        left, right = self._two_sided(other)
        out = left.join(right, on=self.keys, how="full").select(
            *self.keys, f(F.col("__l"), F.col("__r")).alias(alias)
        )
        return self._derive(out)

    def join_update(
        self, other: "IndexedDataFrame | DataFrame", f: MergeFn
    ) -> "IndexedDataFrame":
        """The reference's ``join`` (IndexedRDD.scala:254-265; kernel
        PARTPartition.scala:137-154): left join that CANNOT change the
        value type — matched keys get ``f(old, new)``, unmatched keep the
        old value unchanged."""
        v = self._single_value()
        left, right = self._two_sided(other)
        # presence marker: a matched key whose right value is NULL still
        # gets f(old, NULL) — only truly unmatched keys keep the old value
        right = right.withColumn("__has_r", F.lit(True))
        merged = (
            F.when(F.col("__has_r").isNull(), F.col("__l"))
            .otherwise(f(F.col("__l"), F.col("__r")))
            .cast(self.df.schema[v].dataType)
            .alias(v)
        )
        return self._derive(left.join(right, on=self.keys, how="left").select(*self.keys, merged))

    def left_join(
        self,
        other: "IndexedDataFrame | DataFrame",
        f: MergeFn,
        alias: str = "v",
    ) -> "IndexedDataFrame":
        """Left outer join, f sees NULL right, may change value type
        (reference IndexedRDD.scala:267-274; kernel PARTPartition.scala:156-175)."""
        left, right = self._two_sided(other)
        out = left.join(right, on=self.keys, how="left").select(
            *self.keys, f(F.col("__l"), F.col("__r")).alias(alias)
        )
        return self._derive(out)

    def inner_join(
        self,
        other: "IndexedDataFrame | DataFrame",
        f: MergeFn,
        alias: str = "v",
    ) -> "IndexedDataFrame":
        """Inner equi-join on key (reference IndexedRDD.scala:276-283;
        kernel PARTPartition.scala:177-196)."""
        left, right = self._two_sided(other)
        out = left.join(right, on=self.keys, how="inner").select(
            *self.keys, f(F.col("__l"), F.col("__r")).alias(alias)
        )
        return self._derive(out)

    def _two_sided(self, other: "IndexedDataFrame | DataFrame") -> tuple[DataFrame, DataFrame]:
        """Normalize both sides to (keys…, __l) and (keys…, __r) with the
        value packed as a struct when multi-column. Mirrors the reference
        dispatch that accepts either an indexed or raw other side
        (IndexedRDD.scala:222-283)."""
        other_df = self._align(other)
        ov = [c for c in other_df.columns if c not in self.keys]

        def pack(df: DataFrame, vcols: list[str], name: str) -> DataFrame:
            if len(vcols) == 1:
                return df.select(*self.keys, F.col(vcols[0]).alias(name))
            return df.select(*self.keys, F.struct(*vcols).alias(name))

        return pack(self.df, self.value_cols, "__l"), pack(other_df, ov, "__r")

    # ------------------------------------------------------------------ #
    # Index sharing / keyed aggregation (ops 16-18)
    # ------------------------------------------------------------------ #

    def create_using_index(
        self,
        elems: DataFrame,
        merge: MergeFn | None = None,
        order_col: str | None = None,
    ) -> "IndexedDataFrame":
        """Re-key a fresh dataset onto this index's partitioning
        (reference IndexedRDD.scala:285-291; kernel PARTPartition.scala:198-199
        — the shared thing is the partitioner). Duplicate keys folded
        deterministically (see :meth:`build`)."""
        return IndexedDataFrame.build(
            elems, self.keys, num_partitions=self.num_partitions,
            merge=merge, order_col=order_col,
        )

    def aggregate_using_index(
        self, elems: DataFrame, reduce_fn: MergeFn
    ) -> "IndexedDataFrame":
        """Keyed reduce aligned to this index's partitioning (reference
        IndexedRDD.scala:293-297; kernel PARTPartition.scala:201-203).
        Result keys come purely from ``elems`` — keys absent from the
        index survive (IndexedRDDSuite.scala:179-181). The rows move
        once into this index's layout and fold there
        (:func:`_keyed_fold`): one exchange at any partition count."""
        ev = [c for c in elems.columns if c not in self.keys]
        if len(ev) != 1:
            raise ValueError(f"elems must have one value column, got {ev}")
        out = _keyed_fold(elems, self.keys, self.num_partitions, reduce_fn, ev[0])
        return IndexedDataFrame(out, self.keys, self.num_partitions)

    def aggregate_using_index_expr(
        self, elems: DataFrame, agg_expr: Column, alias: str = "v"
    ) -> "IndexedDataFrame":
        """Fast path of :meth:`aggregate_using_index` when the reduce is a
        native aggregate (sum/min/max/…): whole-stage-codegen hash agg
        with map-side partial aggregation, no collect_list
        materialization. Prefer this at scale.

        The aggregate ends in ``repartition(num_partitions, *keys)``.
        When the index's partition count equals the session's
        ``spark.sql.shuffle.partitions``, the aggregate's own exchange
        already is that layout and Spark drops the repartition: one
        exchange; otherwise two."""
        agg = elems.groupBy(*self.keys).agg(agg_expr.alias(alias))
        out = agg.repartition(self.num_partitions, *self.keys)
        return IndexedDataFrame(out, self.keys, self.num_partitions)

    def reindex(self) -> "IndexedDataFrame":
        """Materialize this version with its lineage cut (reference
        IndexedRDD.scala:299-304; LazyPartition.scala:134-135): a
        ``truncate_lineage`` of the key repartition, planned with AQE off
        so the ``LogicalRDD`` leaf reports the key hash partitioning."""
        conf = self.df.sparkSession.conf
        with _AQE_SWITCH:
            aqe = conf.get("spark.sql.adaptive.enabled")
            conf.set("spark.sql.adaptive.enabled", "false")
            try:
                out = truncate_lineage(self.df.repartition(self.num_partitions, *self.keys))
            finally:
                conf.set("spark.sql.adaptive.enabled", aqe)
        return IndexedDataFrame(out, self.keys, self.num_partitions)

    # ------------------------------------------------------------------ #
    # Storage passthroughs (op 21, IndexedRDD.scala:46-64)
    # ------------------------------------------------------------------ #

    def persist(self, storage_level: str = "MEMORY_AND_DISK") -> "IndexedDataFrame":
        from pyspark import StorageLevel

        self.df.persist(getattr(StorageLevel, storage_level))
        return self

    def unpersist(self, blocking: bool = False) -> "IndexedDataFrame":
        """Release the cached columnar form and any attached point index
        (its driver-side arrays and their share of the budget).
        A reindexed version's checkpoint blocks stay: versions derived
        from it still read them, and Spark's ``ContextCleaner`` reclaims
        them once no such version is reachable."""
        self.df.unpersist(blocking)
        if self._pindex is not None:
            self._pindex.unpersist()
            self._pindex = None
        return self

    def set_name(self, name: str) -> "IndexedDataFrame":
        """Reference ``setName`` passthrough (IndexedRDD.scala:52-56).
        DataFrames carry no name field, so the name lands where it is
        actually useful: a temp-view registration (SQL access +
        identifies the frame in the Spark UI's SQL tab) and ``self.name``
        for callers. Preferred-locations (IndexedRDD.scala:58-64) has no
        DataFrame analog by design: executor locality is delegated to the
        scheduler's file-split locality, which is what a 1000-executor
        cluster wants anyway."""
        self.name = name
        self.df.createOrReplaceTempView(name)
        return self


def merge_into(
    base: IndexedDataFrame,
    updates: DataFrame,
    when_matched: str | MergeFn = "update",
    when_not_matched: str = "insert",
) -> IndexedDataFrame:
    """Lakehouse-style MERGE INTO over the IndexedDataFrame upsert
    machinery (one full-outer SHUFFLE_HASH pass either way):

    - ``when_matched``: "update" (new value wins), "delete" (matched base
      rows removed), "keep" (base wins), or a ``(old, new) -> Column``
      merge expression.
    - ``when_not_matched``: "insert" (new keys added) or "ignore"
      (updates only ever modify existing keys).

    The reference's multiput covers update/insert
    (IndexedRDD.scala:105-164); delete-when-matched composes the same
    join with an anti-filter instead of a second pass."""
    v = base._single_value()
    up = base._align(updates)
    uv = [c for c in up.columns if c not in base.keys]
    if len(uv) != 1:
        raise ValueError(f"updates must have one value column, got {uv}")

    if when_matched == "delete":
        deleted = base.delete_df(up)
        if when_not_matched == "insert":
            # matched keys leave, unmatched updates enter: union the
            # anti-joined updates in (they can't collide with survivors)
            incoming = up.join(
                base.df.select(*base.keys), on=base.keys, how="left_anti"
            ).withColumnRenamed(uv[0], v)
            return IndexedDataFrame.from_unique(
                deleted.df.unionByName(incoming), base.keys, base.num_partitions
            )
        return deleted

    if callable(when_matched):
        f: MergeFn = when_matched
    elif when_matched == "update":
        f = OVERWRITE
    elif when_matched == "keep":
        f = KEEP_OLD
    else:
        raise ValueError(f"unknown when_matched: {when_matched!r}")

    if when_not_matched == "insert":
        return base.multiput_df(up, f=f)
    if when_not_matched == "ignore":
        # restrict updates to existing keys, then upsert
        existing = up.join(
            base.df.select(*base.keys), on=base.keys, how="left_semi"
        )
        return base.multiput_df(existing, f=f)
    raise ValueError(f"unknown when_not_matched: {when_not_matched!r}")
