"""Tests for the targeted-partition multiget fast path
(reference IndexedRDD.scala:79-94)."""

import pytest
from pyspark.sql import functions as F

from spark_indexedrdd_spark.core import IndexedDataFrame
from spark_indexedrdd_spark.operators.point import NativeHashPointIndex


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame([(i, i * 2) for i in range(200)], "k long, v long")
    return IndexedDataFrame.build(df, "k", num_partitions=5)


def test_multiget_hits_and_misses(idx):
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


def test_targets_only_owning_partitions(idx, monkeypatch):
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
def test_index_layout_guard(spark, monkeypatch, make, in_place):
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
    assert idf.with_point_index() is idf
    monkeypatch.undo()
    assert len(calls) == (0 if in_place else 1)

    assert idf.multiget(ks) == plain
    ni = idf._pindex
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


def test_unpersist_releases_point_index(spark):
    sc = spark.sparkContext
    df = spark.createDataFrame([(i, i) for i in range(50)], "k long, v long")
    before = sc._jsc.getPersistentRDDs().size()
    idf = IndexedDataFrame.build(df, "k", num_partitions=4).with_point_index()
    # the cached frame and the index's per-partition dicts
    assert sc._jsc.getPersistentRDDs().size() == before + 2
    idf.unpersist(blocking=True)
    assert idf._pindex is None
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
