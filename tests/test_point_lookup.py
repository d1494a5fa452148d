"""Tests for the point index (reference IndexedRDD.scala:79-94): its
driver tier (sorted arrays, no Spark job), the shared byte budget, and
the targeted-partition probe a directly constructed index falls back to."""

import gc

import pytest
from pyspark.sql import functions as F

from spark_indexedrdd_spark.core import SUM_MERGE, IndexedDataFrame
from spark_indexedrdd_spark.localframe import local_rows_df
from spark_indexedrdd_spark.operators import point
from spark_indexedrdd_spark.operators.point import NativeHashPointIndex


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame([(i, i * 2) for i in range(200)], "k long, v long")
    return IndexedDataFrame.build(df, "k", num_partitions=5)


@pytest.fixture
def no_budget():
    """A zero driver budget fits no frame: indexes built directly in the
    test take the owning-partition probe."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(point, "driver_budget_bytes", lambda: 0)
        yield


def test_multiget_hits_and_misses(idx, no_budget):
    ni = NativeHashPointIndex(idx)
    assert ni.multiget([0, 7, 199, -1, 1000]) == {0: 0, 7: 14, 199: 398}
    assert ni.get(42) == 84
    assert ni.get(-42) is None


def test_string_keys(spark):
    df = spark.createDataFrame(
        [(f"key{i}", i) for i in range(50)], "k string, v long"
    )
    idx = IndexedDataFrame.build(df, "k", num_partitions=4)
    ni = NativeHashPointIndex(idx)
    assert ni.multiget(["key0", "key49", "nope"]) == {"key0": 0, "key49": 49}


def test_composite_keys(spark):
    # a timestamp component has no driver-side hash, so routing takes
    # the hash-of-literals job instead of hashing.py
    import datetime

    t0 = datetime.datetime(2026, 1, 1)
    ts = [t0 + datetime.timedelta(hours=j) for j in range(3)]
    df = spark.createDataFrame(
        [(i, ts[j], i + j) for i in range(10) for j in range(3)],
        "k1 long, k2 timestamp, v long",
    )
    idx = IndexedDataFrame.build(df, ["k1", "k2"], num_partitions=4)
    ni = NativeHashPointIndex(idx)
    assert ni._hashers is None
    missing = (5, t0 - datetime.timedelta(days=1))
    assert ni.multiget([(0, ts[0]), (9, ts[2]), missing]) == {
        (0, ts[0]): 0,
        (9, ts[2]): 11,
    }


def test_native_index_partition_layout_assumption(spark):
    """NativeHashPointIndex's core assumption: repartition(n, keys)
    places rows in physical partition pmod(hash(keys), n). Full check
    over long, string, and composite keys."""
    from pyspark.sql import functions as F

    cases = [
        (spark.range(0, 500).select(F.col("id").alias("k"), F.lit(1).alias("v")), ["k"], 8),
        (
            spark.createDataFrame([(f"s{i}", i) for i in range(200)], "k string, v int"),
            ["k"],
            4,
        ),
        (
            spark.createDataFrame(
                [(i, f"x{i % 5}", i) for i in range(200)], "k1 long, k2 string, v int"
            ),
            ["k1", "k2"],
            4,
        ),
    ]
    for df, keys, n in cases:
        part = df.repartition(n, *keys)
        nk = len(keys)
        got = part.rdd.mapPartitionsWithIndex(
            lambda pid, it, nk=nk: [(pid, tuple(r[:nk])) for r in it]
        ).collect()
        expect = {
            tuple(r[:nk]): r["__p"]
            for r in part.select(
                *keys, F.pmod(F.hash(*keys), F.lit(n)).alias("__p")
            ).collect()
        }
        assert all(expect[k] == pid for pid, k in got)


def test_native_index_multiget(spark):
    df = spark.createDataFrame([(i, i * 3) for i in range(300)], "k long, v long")
    idx = IndexedDataFrame.build(df, "k", num_partitions=6)
    ni = NativeHashPointIndex(idx)
    assert ni.multiget([0, 7, 299, -1]) == {0: 0, 7: 21, 299: 897}
    assert ni.get(42) == 126
    assert ni.get(-42) is None
    parts = ni.owning_partitions([(3,), (17,)])
    assert sum(len(v) for v in parts.values()) == 2


def test_native_index_composite(spark):
    df = spark.createDataFrame(
        [(i, f"s{j}", i * 10 + j) for i in range(20) for j in range(3)],
        "k1 long, k2 string, v long",
    )
    idx = IndexedDataFrame.build(df, ["k1", "k2"], num_partitions=4)
    ni = NativeHashPointIndex(idx)
    assert ni.multiget([(0, "s0"), (19, "s2"), (5, "zz")]) == {
        (0, "s0"): 0,
        (19, "s2"): 192,
    }


def test_targets_only_owning_partitions(idx, monkeypatch, no_budget):
    ni = NativeHashPointIndex(idx)
    sc_cls = type(ni._parts.context)
    run_job = sc_cls.runJob
    scheduled = []

    def spy(self, rdd, fn, partitions=None, *a, **kw):
        scheduled.append(partitions)
        return run_job(self, rdd, fn, partitions, *a, **kw)

    monkeypatch.setattr(sc_cls, "runJob", spy)
    ks = [3, 17]
    assert ni.multiget(ks) == {3: 6, 17: 34}
    owners = ni.owning_partitions([(k,) for k in ks])
    # the job plan touches only the owning partitions ...
    assert scheduled == [sorted(owners)] and len(owners) <= 2
    # ... which are where the rows physically live
    placed = dict(
        idx.df.rdd.mapPartitionsWithIndex(
            lambda pid, it: [(r[0], pid) for r in it]
        ).collect()
    )
    assert all(placed[k] == p for p, kk in owners.items() for k in kk)


# --------------------------------------------------------------------- #
# driver-side Murmur3 (hashing.py): must equal Spark's F.hash exactly
# --------------------------------------------------------------------- #


def test_python_murmur3_matches_spark_hash(spark):
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from spark_indexedrdd_spark import hashing as H

    cases = [
        ("k long", [(v,) for v in [0, 1, -1, 2**33, -(2**40), 7]]),
        ("k int", [(v,) for v in [0, 1, -1, 2**31 - 1, -(2**31)]]),
        ("k string", [(s,) for s in ["", "a", "abc", "abcd", "héllo", "x" * 37]]),
        ("k double", [(v,) for v in [0.0, -0.0, 1.5, -3.25, 1e300]]),
        ("k boolean", [(True,), (False,)]),
        ("k date", [(datetime.date(1970, 1, 1),), (datetime.date(2026, 8, 13),)]),
        (
            T.StructType(
                [
                    T.StructField("a", T.LongType()),
                    T.StructField("b", T.StringType()),
                ]
            ),
            [(1, "x"), (2, None), (None, "y"), (None, None), (99, "zz")],
        ),
    ]
    for schema, rows in cases:
        df = spark.createDataFrame(rows, schema=schema)
        got = df.select(F.hash(*df.columns).alias("h")).collect()
        hs = H.hashers_for_schema(df.schema)
        assert hs is not None
        for g, r in zip(got, rows):
            assert g["h"] == H.spark_hash_tuple(tuple(r), hs), (schema, r)


def test_timestamp_keys_have_no_driver_hash(spark):
    # session-TZ-dependent — must fall back to the ask-Spark path
    from pyspark.sql import types as T

    from spark_indexedrdd_spark import hashing as H

    schema = T.StructType([T.StructField("t", T.TimestampType())])
    assert H.hashers_for_schema(schema) is None


def _contract_frame(spark, df):
    return IndexedDataFrame.build(df, "k", num_partitions=5)


def _broken_layout_frame(spark, df):
    # physical partition count disagrees with num_partitions
    return IndexedDataFrame(df.repartition(3, "k").cache(), ["k"], 7)


def _coalesced_agg_frame(spark, df):
    # a hash aggregate wrapped at the shuffle partition count: its own
    # exchange is the layout, and AQE coalesces that exchange on small
    # input because nothing pins the partition count
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return IndexedDataFrame(df.groupBy("k").agg(F.sum("v").alias("v")), ["k"], n)


def _agg_expr_frame(spark, df):
    # aggregate_using_index_expr ends in the index layout, which pins
    # the partition count against AQE coalescing
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = IndexedDataFrame.from_unique(df, "k", num_partitions=n)
    return base.aggregate_using_index_expr(
        df.select("k", F.col("v").alias("m")), F.sum("m"), alias="v"
    )


@pytest.mark.parametrize(
    "make, in_place",
    [
        pytest.param(_contract_frame, True, id="contract"),
        pytest.param(_broken_layout_frame, False, id="broken_layout"),
        pytest.param(_coalesced_agg_frame, False, id="coalesced_agg"),
        pytest.param(_agg_expr_frame, True, id="agg_expr"),
    ],
)
def test_index_layout_guard(spark, monkeypatch, make, in_place, no_budget):
    """Contract frames are indexed in place (no repartition); a frame
    whose physical partition count breaks the contract is re-laid out
    once, and either way the index answers like the plain multiget."""
    df = spark.createDataFrame([(i, i * 3) for i in range(100)], "k long, v long")
    idf = make(spark, df)
    assert (idf.df.rdd.getNumPartitions() == idf.num_partitions) == in_place
    ks = [0, 50, 99, -5]
    plain = idf.multiget(ks)
    assert plain == {0: 0, 50: 150, 99: 297}

    df_cls = type(idf.df)
    repartition = df_cls.repartition
    calls = []

    def spy(self, *a, **kw):
        calls.append(a)
        return repartition(self, *a, **kw)

    monkeypatch.setattr(df_cls, "repartition", spy)
    ni = NativeHashPointIndex(idf)
    monkeypatch.undo()
    assert len(calls) == (0 if in_place else 1)

    assert ni.multiget(ks) == plain
    assert ni._parts.getNumPartitions() == idf.num_partitions
    # every key sits in the partition the driver routes it to
    placed = ni._parts.mapPartitionsWithIndex(
        lambda pid, it: [(pid, k) for d in it for k in d]
    ).collect()
    owners = ni.owning_partitions([(k,) for _, k in placed])
    assert all(k in owners[pid] for pid, k in placed)


def test_with_point_index_requires_single_value(spark):
    df = spark.createDataFrame([(1, 2, 3)], "k long, a long, b long")
    idf = IndexedDataFrame.build(df, "k", num_partitions=2)
    with pytest.raises(ValueError, match="single value column"):
        idf.with_point_index()
    assert idf._pindex is None


def test_unpersist_releases_point_index(spark, no_budget):
    sc = spark.sparkContext
    df = spark.createDataFrame([(i, i) for i in range(50)], "k long, v long")
    before = sc._jsc.getPersistentRDDs().size()
    idf = IndexedDataFrame.build(df, "k", num_partitions=4).with_point_index()
    # over budget: nothing attached, the cached frame only
    assert idf._pindex is None
    assert sc._jsc.getPersistentRDDs().size() == before + 1
    ni = NativeHashPointIndex(idf)  # the probe's per-partition dicts
    assert sc._jsc.getPersistentRDDs().size() == before + 2
    ni.unpersist()
    idf.unpersist(blocking=True)
    assert sc._jsc.getPersistentRDDs().size() == before


def test_nli_owning_partitions_driver_side(spark):
    df = spark.createDataFrame(
        [(f"doc{i}", float(i)) for i in range(80)], "k string, v double"
    )
    idx = IndexedDataFrame.build(df, "k", num_partitions=6)
    ni = NativeHashPointIndex(idx)
    assert ni._hashers is not None
    ks = [f"doc{i}" for i in range(0, 80, 7)] + ["missing"]
    assert ni.multiget(ks) == {f"doc{i}": float(i) for i in range(0, 80, 7)}


def test_unpersist_releases_driver_tier(spark):
    sc = spark.sparkContext
    df = spark.range(50).select(F.col("id").alias("k"), F.col("id").alias("v"))
    before = sc._jsc.getPersistentRDDs().size()
    idf = IndexedDataFrame.build(df, "k", num_partitions=4).with_point_index()
    ni = idf._pindex
    assert ni.resident and len(ni._keys) == 50 and ni in point._RESIDENT
    # the cached frame only: the arrays live in driver memory
    assert sc._jsc.getPersistentRDDs().size() == before + 1
    idf.unpersist(blocking=True)
    assert idf._pindex is None
    assert ni._keys is None and ni._values is None and ni._nulls is None
    assert ni._charge == 0 and ni not in point._RESIDENT
    assert sc._jsc.getPersistentRDDs().size() == before


# --------------------------------------------------------------------- #
# driver tier: exact against the un-indexed JVM routes, zero Spark jobs
# --------------------------------------------------------------------- #

_I64 = 2**63 - 1
_KEYS = {
    "int": [0, 1, -1, 42, 2**31 - 1, -(2**31)],
    "long": [0, 1, -1, 42, _I64, -_I64 - 1, 2**40],
    "string": ["", "a", "a\x00", "héllo", "日本語", "o'brien", "k1"],
}
_MISSES = {
    "int": [7, -(10**6)],
    "long": [7, 2**62],
    "string": ["A", "a\x00\x00", "zz"],
}
_F32 = 0.10000000149011612  # float32(0.1) widened, what collect() gives
_VALUES = {
    "long": [None, _I64, -_I64, 0, 7],
    "int": [None, 2**31 - 1, -(2**31), 0],
    "boolean": [None, True, False],
    "float": [None, float("nan"), -0.0, _F32, 1e38],
    "double": [None, float("nan"), -0.0, _F32, 0.1, 1e308],
    "string": [None, "", "héllo", "日本", "a\x00"],
}


def _key_value_frame(spark, kdt, vdt):
    keys, vals = _KEYS[kdt], _VALUES[vdt]
    rows = [(k, vals[i % len(vals)]) for i, k in enumerate(keys)]
    rows.append((None, vals[1]))  # a NULL key matches no read
    df = local_rows_df(spark, rows, f"k {kdt}, v {vdt}")
    return IndexedDataFrame.from_unique(df, "k", num_partitions=3)


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("vdt", list(_VALUES))
@pytest.mark.parametrize("kdt", list(_KEYS))
def test_driver_tier_matches_plain_multiget(spark, kdt, vdt):
    idf = _key_value_frame(spark, kdt, vdt)
    keys = _KEYS[kdt]
    batch = keys[::-1] + keys[:3] + _MISSES[kdt]  # duplicates and misses
    plain, plain_jobs = _jobs_of(spark, f"jvm-{kdt}-{vdt}", lambda: idf.multiget(batch))
    assert len(plain) == len(keys) and plain_jobs  # the group sees JVM jobs

    idf.with_point_index()
    assert idf._pindex.resident  # the driver tier
    got, jobs = _jobs_of(spark, f"driver-tier-{kdt}-{vdt}", lambda: idf.multiget(batch))
    assert jobs == []
    assert got.keys() == plain.keys()
    for k, v in plain.items():
        # repr tells NaN, -0.0 and float32 widening apart
        assert type(got[k]) is type(v) and repr(got[k]) == repr(v), (k, got[k], v)
    idf.unpersist()


def test_overlay_versions_compose_on_driver_tier(spark):
    """put/delete versions of a driver-tier frame answer their own keys
    from the overlay and the rest from the arrays: no Spark job."""
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    idf = IndexedDataFrame.from_unique(df, "k", 2).with_point_index()
    assert idf._pindex.resident
    v2 = idf.put(3, 300).delete([5]).multiput({7: 1}, f=SUM_MERGE)
    got, jobs = _jobs_of(spark, "overlay-on-driver-tier", lambda: v2.multiget([3, 5, 7, 9, 500]))
    assert got == {3: 300, 7: 15, 9: 18} and jobs == []
    assert idf.multiget([3, 5, 7]) == {3: 6, 5: 10, 7: 14}


def _outcome(fn):
    try:
        return fn()
    except Exception as e:  # the JVM route's own error is its answer
        return type(e)


@pytest.mark.parametrize(
    "kdt, batch",
    [
        pytest.param("long", [1.0, 42], id="float_key"),
        pytest.param("long", [True], id="bool_key"),
        pytest.param("long", [2**70, 42], id="int_beyond_int64"),
        pytest.param("long", [None, 42], id="none_key"),
        pytest.param("string", [1, "a"], id="int_on_string"),
    ],
)
def test_driver_tier_declines_inexact_batches(spark, kdt, batch):
    """A batch the arrays cannot compare exactly goes down the JVM
    routes, and gets exactly their answer."""
    plain = _key_value_frame(spark, kdt, "long")
    indexed = _key_value_frame(spark, kdt, "long").with_point_index()
    assert indexed._pindex.resident
    assert indexed._pindex.multiget(batch) is None
    assert _outcome(lambda: indexed.multiget(batch)) == _outcome(
        lambda: plain.multiget(batch)
    )


def test_tier_selection(spark, monkeypatch):
    """with_point_index() attaches an index only to a single-key frame of
    driver-tier types within the budget; every other frame keeps its
    reads on the JVM routes. Constructed directly, such a frame builds
    the owning-partition probe."""
    small = spark.range(1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    fits = IndexedDataFrame.from_unique(small, "k", 2).with_point_index()
    assert fits._pindex.resident and fits.multiget([3, 5000]) == {3: 3}

    dbl = small.select(F.col("k").cast("double").alias("k"), "v")
    composite = small.select("k", (F.col("k") % 3).alias("k2"), "v")
    cases = [
        IndexedDataFrame.from_unique(dbl, "k", 2),
        IndexedDataFrame.from_unique(composite, ["k", "k2"], 2),
    ]
    for idf in cases:
        assert idf.with_point_index()._pindex is None
        ni = NativeHashPointIndex(idf)
        assert ni._parts is not None and not ni.resident
        ni.unpersist()

    # over budget: 1,000 rows of two longs in a 1 kB budget
    monkeypatch.setattr(point, "driver_budget_bytes", lambda: 1000)
    over = IndexedDataFrame.from_unique(small, "k", 2)
    assert over.with_point_index()._pindex is None
    assert over.multiget([3, 5000]) == {3: 3}
    probe = NativeHashPointIndex(over)
    assert probe._parts is not None and probe.multiget([3, 5000]) == {3: 3}
    probe.unpersist()
    fits.unpersist()


def test_budget_charges_the_measured_size(spark, monkeypatch):
    """Catalyst sizes a string at 20 B, so 1,000 rows of 1,000-character
    values estimate far below a 200 kB budget while the driver would
    hold over 2 MB: the measured size decides."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), F.repeat(F.lit("x"), 1000).alias("v")
    )
    idf = IndexedDataFrame.from_unique(df, "k", 2)
    plan = idf.df._jdf.queryExecution().optimizedPlan()
    assert int(str(plan.stats().sizeInBytes())) < 200_000
    monkeypatch.setattr(point, "driver_budget_bytes", lambda: 200_000)
    assert idf.with_point_index()._pindex is None
    assert idf.multiget([3, 5000]) == {3: "x" * 1000}
    idf.unpersist()


def test_resident_indexes_share_one_budget(spark, monkeypatch):
    """Live driver-tier indexes together stay within the budget; an
    unpersisted one hands its share back, and a failed collect keeps
    none."""
    first, second = (
        IndexedDataFrame.from_unique(
            spark.range(1000).select(F.col("id").alias("k"), (F.col("id") + i).alias("v")),
            "k",
            2,
        )
        for i in range(2)
    )
    # room for one of them: each holds 1,000 rows x 2 columns x 32 B
    gc.collect()  # no index from an earlier test drops out mid-test
    held = sum(ix._charge for ix in point._RESIDENT)
    monkeypatch.setattr(point, "driver_budget_bytes", lambda: held + 100_000)
    assert first.with_point_index()._pindex._charge == 64_000
    assert second.with_point_index()._pindex is None
    first.unpersist()
    assert second.with_point_index()._pindex.resident
    assert second.multiget([7]) == {7: 8}

    def fail(self):
        raise RuntimeError("collect failed")

    monkeypatch.setattr(type(first.df), "toArrow", fail)
    again = IndexedDataFrame.from_unique(first.df, "k", 2)
    monkeypatch.setattr(point, "driver_budget_bytes", lambda: held + 300_000)
    assert again.with_point_index()._pindex is None
    ni = NativeHashPointIndex(again)  # kept alive: falls back to the probe
    assert not ni.resident and ni._charge == 0 and ni not in point._RESIDENT
    assert sum(ix._charge for ix in point._RESIDENT) == held + 64_000
    ni.unpersist()
    second.unpersist()


def test_budget_respects_max_result_size(spark):
    """The collect is a driver task result, so the budget is at most
    half of spark.driver.maxResultSize (0 = unlimited)."""
    from spark_indexedrdd_spark.session import driver_budget_bytes

    sc = spark.sparkContext
    heap = sc._jvm.java.lang.Runtime.getRuntime().maxMemory()
    old = sc._conf.get("spark.driver.maxResultSize")
    try:
        sc._conf.set("spark.driver.maxResultSize", "1m")
        assert driver_budget_bytes() == min(heap // 8, 512 * 1024)
        sc._conf.set("spark.driver.maxResultSize", "0")
        assert driver_budget_bytes() == heap // 8
    finally:
        if old is None:
            sc._jsc.sc().conf().remove("spark.driver.maxResultSize")
        else:
            sc._conf.set("spark.driver.maxResultSize", old)
