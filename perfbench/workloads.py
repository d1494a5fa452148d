"""The closed-loop workloads and their in-benchmark models: point_serve,
and write_ingest_mix, whose cycle is one in-memory write/read round
(WriteReadMix) followed by one round on a persisted store (DeltaIngest).

Every workload generates its data and its op stream from the seed alone;
the program only ever sees the generated rows and keys. Each op is
checked against a numpy model of the version it targets (``vals[k]``
and ``present[k]`` over the whole key space).

Keys are longs and values are longs, so a user row is 16 bytes.
"""

from __future__ import annotations

import math
import os
import shutil
import zlib
from collections import deque
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

USER_ROW_BYTES = 16
VALUE_MOD = 1_000_003

# op kind -> op class; the end-to-end read and write figures and the
# per-layer spark.jobs_per_op / spark.tasks_per_op group op kinds by it
OP_CLASS = {
    "read": "read", "store_read": "store_read", "history_read": "history_read",
    "multiput": "write", "multiput_sum": "write", "delete": "write",
    "commit_puts": "write", "commit_deletes": "write",
    "reindex": "compact", "compact": "compact", "scan": "scan",
}


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _coprime(rng: np.random.Generator, n: int) -> int:
    while True:
        a = int(rng.integers(n // 3, n)) | 1
        if math.gcd(a, n) == 1:
            return a


def base_value_np(keys: np.ndarray, seed: int) -> np.ndarray:
    return (keys * 7919 + seed * 104729) % VALUE_MOD


def base_value_col(col, seed: int):
    from pyspark.sql import functions as F

    return F.pmod(col * 7919 + seed * 104729, F.lit(VALUE_MOD))


@dataclass
class Op:
    """One request: ``run()`` is timed; ``check(result)`` is not, returns
    whether the result matches the model and advances the model."""

    kind: str
    keys: int
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    info: dict = field(default_factory=dict)

    def request(self, keys: np.ndarray) -> "Op":
        """Record a digest of the request's keys (the self-tests compare
        op streams by it)."""
        self.info["digest"] = zlib.crc32(np.ascontiguousarray(keys, dtype=np.int64).tobytes())
        return self


def _check_multiget(res: dict, keys: np.ndarray, vals, present) -> bool:
    uniq = np.unique(keys)
    live = uniq[present[uniq]]
    if len(res) != len(live):
        return False
    for k, v in zip(live.tolist(), vals[live].tolist()):
        if res.get(k) != v:
            return False
    return True


class Zipf:
    """Zipf(s) ranks over ``n`` keys, mapped to keys by a seeded
    permutation so hot keys are spread over the partitions."""

    def __init__(self, rng: np.random.Generator, n: int, s: float = 1.1):
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w)
        self.cdf /= self.cdf[-1]
        self.n = n
        self.a = _coprime(rng, n)
        self.b = int(rng.integers(0, n))
        self.rng = rng

    def key_of_rank(self, r):
        return (r * self.a + self.b) % self.n

    def sample(self, size: int) -> np.ndarray:
        r = np.searchsorted(self.cdf, self.rng.random(size))
        return self.key_of_rank(np.minimum(r, self.n - 1)).astype(np.int64)


class Workload:
    name = ""
    restart_checks = False  # final_checks() wants a fresh session
    # ops per cycle: the stream repeats a fixed composition of op kinds
    # every `cycle` ops, and a run measures whole cycles only
    cycle = 1

    def __init__(self, seed: int, sizes: dict, tracer, work: str):
        self.seed = seed
        self.sizes = dict(sizes)
        self.tracer = tracer
        self.work = work

    def setup(self, spark, rep: int) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def final_checks(self, spark) -> tuple[int, int]:
        """(attempted, failed) of checks run after the timed window."""
        return 0, 0

    def detail(self) -> dict:
        """Workload-specific end-to-end figures for the detail line."""
        return {}


# ------------------------------------------------------------------ #
# point_serve
# ------------------------------------------------------------------ #


class PointServe(Workload):
    """Read-only multiget serving through the attached point index."""

    name = "point_serve"
    # batch sizes cycle in this order; the share of each size is fixed,
    # so the median falls inside the 16-key batches on every seed
    BATCH_CYCLE = (1, 16, 1, 16, 256, 16, 4096)
    MISS_SHARE = 0.10
    cycle = len(BATCH_CYCLE)

    def setup(self, spark, rep: int) -> None:
        from pyspark.sql import functions as F

        from spark_indexedrdd_spark.core import IndexedDataFrame

        n, p = self.sizes["keys"], self.sizes["partitions"]
        with self.tracer.span("core.build"):
            df = spark.range(n).select(
                F.col("id").alias("k"), base_value_col(F.col("id"), self.seed).alias("v")
            )
            self.idf = IndexedDataFrame.from_unique(df, "k", num_partitions=p)
            self.idf.count()
        self.idf.with_point_index()
        # model over [0, 2n): keys >= n are the misses
        self.vals = base_value_np(np.arange(2 * n, dtype=np.int64), self.seed)
        self.present = np.arange(2 * n) < n
        self.rng = _rng(self.seed, 1)
        self.zipf = Zipf(_rng(self.seed, 2), n)

    def hot_key(self) -> int:
        return int(self.zipf.key_of_rank(0))

    def op(self, i: int) -> Op:
        n = self.sizes["keys"]
        size = self.BATCH_CYCLE[i % len(self.BATCH_CYCLE)]
        keys = self.zipf.sample(size)
        miss = self.rng.random(size) < self.MISS_SHARE
        keys[miss] = n + self.rng.integers(0, n, int(miss.sum()))
        key_list = keys.tolist()
        return Op(
            "read", size,
            run=lambda: self.idf.multiget(key_list),
            check=lambda res: _check_multiget(res, keys, self.vals, self.present),
        ).request(keys)


# ------------------------------------------------------------------ #
# WriteReadMix: the in-memory half of write_ingest_mix
# ------------------------------------------------------------------ #


class WriteReadMix(Workload):
    """Copy-on-write versions in memory, no index: multiget with
    read-your-writes, multiput (overwrite / SUM_MERGE), delete, and a
    reindex + co-partitioned inner-join checksum every K mutations."""

    MUTATIONS = ("multiput", "multiput_sum", "delete", "multiput")  # K = 4
    READS_PER_MUTATION = 3
    READ_SIZES = (16, 64, 256, 64)
    MISS_SHARE = 0.10
    cycle = len(MUTATIONS) * (1 + READS_PER_MUTATION) + 2

    def setup(self, spark, rep: int) -> None:
        from pyspark.sql import functions as F

        from spark_indexedrdd_spark.core import IndexedDataFrame

        n, p = self.sizes["keys"], self.sizes["partitions"]
        with self.tracer.span("core.build"):
            base = spark.range(n).select(
                F.col("id").alias("k"), base_value_col(F.col("id"), self.seed).alias("v")
            )
            self.cur = IndexedDataFrame.from_unique(base, "k", num_partitions=p)
            self.cur.count()
            # join partner: every third key of the base range plus keys
            # beyond it, co-partitioned with the base
            other = spark.range(0, n + n // 10, 3).select(
                F.col("id").alias("k"),
                base_value_col(F.col("id") + 17, self.seed).alias("v"),
            )
            self.other = IndexedDataFrame.from_unique(other, "k", num_partitions=p)
            self.other.count()
        self.materialized = self.cur
        space = 2 * n
        ks = np.arange(space, dtype=np.int64)
        self.vals = base_value_np(ks, self.seed)
        self.present = ks < n
        ok = (ks % 3 == 0) & (ks < n + n // 10)
        self.other_vals = np.where(ok, base_value_np(ks + 17, self.seed), 0)
        self.other_present = ok
        self.rng = _rng(self.seed, 3)
        self.zipf = Zipf(_rng(self.seed, 4), n)
        self.recent: deque[np.ndarray] = deque(maxlen=4)
        self.reads = 0

    def op(self, i: int) -> Op:
        per = 1 + self.READS_PER_MUTATION
        j = i % self.cycle
        if j == self.cycle - 2:
            return self._reindex()
        if j == self.cycle - 1:
            return self._scan()
        if j % per == 0:
            return self._mutate(self.MUTATIONS[j // per])
        return self._read()

    def _read(self) -> Op:
        n = self.sizes["keys"]
        size = self.READ_SIZES[self.reads % len(self.READ_SIZES)]
        self.reads += 1
        half = size // 2
        if self.recent:
            pool = np.concatenate(list(self.recent))
            mine = pool[self.rng.integers(0, len(pool), half)]
        else:
            mine = self.zipf.sample(half)
        rest = self.zipf.sample(size - half)
        miss = self.rng.random(size - half) < self.MISS_SHARE
        rest[miss] = n + self.rng.integers(0, n, int(miss.sum()))
        keys = np.concatenate([mine, rest])
        key_list = keys.tolist()
        ver = self.cur
        return Op(
            "read", size,
            run=lambda: ver.multiget(key_list),
            check=lambda res: _check_multiget(res, keys, self.vals, self.present),
        ).request(keys)

    def _mutate(self, kind: str) -> Op:
        n = self.sizes["keys"]
        if kind == "delete":
            size = int(self.rng.integers(16, 129))
            keys = np.unique(self.rng.integers(0, 2 * n, size))
            key_list = keys.tolist()
            ver = self.cur

            def check(res) -> bool:
                self.cur = res
                self.present[keys] = False
                self.recent.append(keys)
                return True

            return Op("delete", len(keys), run=lambda: ver.delete(key_list),
                      check=check).request(keys)

        from spark_indexedrdd_spark.core import SUM_MERGE

        size = int(self.rng.integers(64, 513))
        keys = self.zipf.sample(size)
        new = self.rng.random(size) < 0.1
        keys[new] = n + self.rng.integers(0, n, int(new.sum()))
        keys = np.unique(keys)
        hi = 1000 if kind == "multiput_sum" else VALUE_MOD
        upd = self.rng.integers(0, hi, len(keys))
        kvs = dict(zip(keys.tolist(), upd.tolist()))
        ver = self.cur
        summing = kind == "multiput_sum"

        def check(res) -> bool:
            self.cur = res
            if summing:
                old = np.where(self.present[keys], self.vals[keys], 0)
                self.vals[keys] = old + upd
            else:
                self.vals[keys] = upd
            self.present[keys] = True
            self.recent.append(keys)
            return True

        run = (
            (lambda: ver.multiput(kvs, f=SUM_MERGE)) if summing
            else (lambda: ver.multiput(kvs))
        )
        return Op(kind, len(keys), run=run, check=check).request(keys)

    def _reindex(self) -> Op:
        ver = self.cur

        def check(res) -> bool:
            self.cur = res
            # the previous materialized version is no longer read
            self.materialized.unpersist()
            self.materialized = res
            return True

        return Op("reindex", 0, run=ver.reindex, check=check)

    def _scan(self) -> Op:
        from pyspark.sql import functions as F

        ver = self.cur
        both = self.present & self.other_present
        want_n = int(both.sum())
        want_sum = int((self.vals[both] * 2 + self.other_vals[both]).sum())

        def run():
            j = ver.inner_join(self.other, f=lambda l, r: l * 2 + r, alias="v")
            row = j.to_df().agg(
                F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
            ).collect()[0]
            return row["n"], row["s"]

        return Op("scan", 0, run=run,
                  check=lambda res: res == (want_n, want_sum))


# ------------------------------------------------------------------ #
# DeltaIngest: the store half of write_ingest_mix
# ------------------------------------------------------------------ #


class DeltaIngest(Workload):
    """A persisted VersionedKVStore: seeded ~10k-row put/delete deltas,
    reads of the latest and of an older version, compaction every C = 2
    commits (so latest reads fold one and then two deltas), and a restart
    re-check of every retained version."""

    COMMITS = ("puts", "puts_sum", "deletes")  # commit kinds, in turn
    STEP = ("commit", "store_read", "history_read")
    ROUND_COMMITS = 2  # C
    cycle = ROUND_COMMITS * len(STEP) + 1
    # a round's versions: its snapshot (from init or the last compact),
    # then one per commit
    ROUND_VERSIONS = ROUND_COMMITS + 1
    READ_KEYS = 64
    RESTART_KEYS = 32

    def setup(self, spark, rep: int) -> None:
        from pyspark.sql import functions as F

        from spark_indexedrdd_spark.core import IndexedDataFrame
        from spark_indexedrdd_spark.sources.versioned import VersionedKVStore

        n, p = self.sizes["keys"], self.sizes["partitions"]
        self.path = os.path.join(self.work, f"store-{rep}")
        shutil.rmtree(self.path, ignore_errors=True)
        with self.tracer.span("core.build"):
            base = spark.range(n).select(
                F.col("id").alias("k"), base_value_col(F.col("id"), self.seed).alias("v")
            )
            idf = IndexedDataFrame.from_unique(base, "k", num_partitions=p, cache=False)
        with self.tracer.span("versioned.init"):
            self.store = VersionedKVStore.init(idf, self.path)
        self.spark = spark
        ks = np.arange(2 * n, dtype=np.int64)
        # versions[v] = (vals, present, keys touched by v's delta)
        self.versions = {0: (base_value_np(ks, self.seed), ks < n, ks[:0])}
        self.latest = 0
        self.commits = 0
        self.rng = _rng(self.seed, 5)

    def op(self, i: int) -> Op:
        j = i % self.cycle
        if j == self.cycle - 1:
            return self._compact()
        step = self.STEP[j % len(self.STEP)]
        if step == "commit":
            self.commits += 1
            return self._commit(self.COMMITS[(self.commits - 1) % len(self.COMMITS)])
        if step == "store_read":
            return self._read(self.latest, step)
        # the version at the same place in a seeded round so far: the
        # h-th history read of a round folds h deltas on every seed
        h = j // len(self.STEP)
        r = int(self.rng.integers(0, self.latest // self.ROUND_VERSIONS + 1))
        return self._read(r * self.ROUND_VERSIONS + h, "history_read")

    def _delta_keys(self) -> tuple[np.ndarray, int, int]:
        space = 2 * self.sizes["keys"]
        m = self.sizes["delta_rows"]
        start = int(self.rng.integers(0, space))
        stride = _coprime(self.rng, space)
        keys = (start + np.arange(m, dtype=np.int64) * stride) % space
        return keys, start, stride

    def _commit(self, kind: str) -> Op:
        from pyspark.sql import functions as F

        keys, start, stride = self._delta_keys()
        space = 2 * self.sizes["keys"]
        a = _coprime(self.rng, VALUE_MOD)
        b = int(self.rng.integers(0, VALUE_MOD))
        hi = 1000 if kind == "puts_sum" else VALUE_MOD
        spark, store = self.spark, self.store

        def frame():
            k = F.pmod(F.lit(start) + F.col("id") * F.lit(stride), F.lit(space))
            df = spark.range(len(keys)).select(k.alias("k"))
            return df.withColumn("v", F.pmod(F.col("k") * a + b, F.lit(hi)))

        if kind == "deletes":
            run = lambda: store.commit_deletes(frame().select("k"))  # noqa: E731
        else:
            merge = "sum" if kind == "puts_sum" else "overwrite"
            run = lambda: store.commit_puts(frame(), merge=merge)  # noqa: E731
        before = self._store_bytes()
        op = Op("commit_" + ("deletes" if kind == "deletes" else "puts"),
                len(keys), run=run, check=None).request(keys)

        def check(v) -> bool:
            vals, present, _ = self.versions[self.latest]
            vals, present = vals.copy(), present.copy()
            if kind == "deletes":
                present[keys] = False
            else:
                upd = (keys * a + b) % hi
                old = np.where(present[keys], vals[keys], 0)
                vals[keys] = old + upd if kind == "puts_sum" else upd
                present[keys] = True
            ok = v == self.latest + 1
            self.latest += 1
            self.versions[self.latest] = (vals, present, keys)
            op.info["bytes_written"] = self._store_bytes() - before
            op.info["user_bytes"] = len(keys) * (
                8 if kind == "deletes" else USER_ROW_BYTES
            )
            return ok

        op.check = check
        return op

    def _sample_keys(self, v: int, size: int) -> np.ndarray:
        space = 2 * self.sizes["keys"]
        touched = self.versions[v][2]
        half = size // 2 if len(touched) else 0
        mine = touched[self.rng.integers(0, max(len(touched), 1), half)]
        return np.concatenate([mine, self.rng.integers(0, space, size - half)])

    def _read(self, v: int, kind: str) -> Op:
        keys = self._sample_keys(v, self.READ_KEYS)
        key_list = keys.tolist()
        vals, present, _ = self.versions[v]
        store, latest = self.store, kind == "store_read"

        def run():
            # the span covers the whole versioned read: plan (read), the
            # snapshot and delta scans and the fold (multiget's job)
            with self.tracer.span("versioned.read"):
                return (store.read() if latest else store.read(v)).multiget(key_list)

        return Op(kind, len(keys), run=run,
                  check=lambda res: _check_multiget(res, keys, vals, present)).request(keys)

    def _compact(self) -> Op:
        before = self._store_bytes()
        op = Op("compact", 0, run=self.store.compact, check=None)

        def check(v) -> bool:
            ok = v == self.latest + 1
            vals, present, _ = self.versions[self.latest]
            self.latest += 1
            self.versions[self.latest] = (vals, present, vals[:0])
            op.info["bytes_written"] = self._store_bytes() - before
            return ok

        op.check = check
        return op

    def _store_bytes(self) -> int:
        from harness import dir_bytes

        return dir_bytes(self.path)

    def final_checks(self, spark) -> tuple[int, int]:
        """Restart visibility: a fresh session opens the store from its
        manifest and every retained version answers sampled keys as the
        model says."""
        import sys
        import traceback

        from spark_indexedrdd_spark.sources.versioned import VersionedKVStore

        reopened = VersionedKVStore.open(spark, self.path)
        attempted = failed = 0
        for v in reopened.versions():
            attempted += 1
            keys = self._sample_keys(v, self.RESTART_KEYS) if v in self.versions else None
            try:
                if keys is None:
                    raise AssertionError(f"store lists version {v} the model lacks")
                vals, present, _ = self.versions[v]
                if not _check_multiget(
                    reopened.read(v).multiget(keys.tolist()), keys, vals, present
                ):
                    failed += 1
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
        if sorted(reopened.versions()) != sorted(self.versions):
            attempted += 1
            failed += 1
        return attempted, failed

    def detail(self) -> dict:
        vals, present, _ = self.versions[self.latest]
        live = int(present.sum()) * USER_ROW_BYTES
        return {
            "space_amp": {"value": self._store_bytes() / live, "unit": "ratio"},
            "versions": {"value": self.latest + 1, "unit": "count"},
        }


# ------------------------------------------------------------------ #
# write_ingest_mix
# ------------------------------------------------------------------ #


class WriteIngestMix(Workload):
    """Each cycle is one WriteReadMix round on the in-memory map, then one
    DeltaIngest round on a separate persisted store: twice a commit, a
    latest read (``store_read``) and a time-travel read, then compact.

    The two streams share nothing but the session, so each keeps its own
    mechanism and bypass: the in-memory ops never touch the store, and
    the store ops never touch the overlay or the point index. Running
    them in one workload halves the fixed per-run cost (JVM start and
    three set-ups) of measuring both, which buys the run length their
    figures need to be steady."""

    name = "write_ingest_mix"
    restart_checks = True

    def __init__(self, *args):
        super().__init__(*args)
        self.mix = WriteReadMix(*args)
        self.ingest = DeltaIngest(*args)
        self.cycle = self.mix.cycle + self.ingest.cycle

    def setup(self, spark, rep: int) -> None:
        self.mix.setup(spark, rep)
        self.ingest.setup(spark, rep)

    def op(self, i: int) -> Op:
        j = i % self.cycle
        if j < self.mix.cycle:
            return self.mix.op(j)
        return self.ingest.op(j - self.mix.cycle)

    def final_checks(self, spark) -> tuple[int, int]:
        return self.ingest.final_checks(spark)

    def detail(self) -> dict:
        return self.ingest.detail()


WORKLOADS = {w.name: w for w in (PointServe, WriteIngestMix)}

# point_serve keeps more partitions than cores so a small batch touches
# a few of them and a large one all; write_ingest_mix uses one partition
# per core of local[4], for the in-memory map and the store alike.
SIZES = {
    "point_serve": {"keys": 1_000_000, "partitions": 8},
    "write_ingest_mix": {"keys": 250_000, "partitions": 4, "delta_rows": 10_000},
}

TINY_SIZES = {
    "point_serve": {"keys": 2_000, "partitions": 4},
    "write_ingest_mix": {"keys": 2_000, "partitions": 4, "delta_rows": 200},
}
