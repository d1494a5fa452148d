"""The reference README's own usage demo, at its own scale
(reference README.md:21-45): build a million-entry map, point-update,
point-lookup, delete, and multi-version isolation — on our engine.

Also covers struct-valued joins (the reference's opaque V as a nested
column), which the scalar-valued suites don't reach."""

import pytest
from pyspark.sql import functions as F

from spark_indexedrdd_spark.core import IndexedDataFrame
from spark_indexedrdd_spark.operators.point import NativeHashPointIndex


def test_readme_million_entry_demo(spark):
    # val rdd = sc.parallelize((1 to 1000000).map(x => (x.toLong, 0)))
    df = spark.range(1, 1_000_001).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    )
    kv = IndexedDataFrame.from_unique(df, "k", num_partitions=8)

    # rdd.put(1234L, 10873)  — functional point update
    v2 = kv.put(1234, 10873)
    assert v2.get(1234) == 10873
    # the original is unchanged (multi-version, README.md:31-34)
    assert kv.get(1234) == 0

    # rdd.get(1234L) via the targeted-partition fast path
    ni = NativeHashPointIndex(v2)
    assert ni.get(1234) == 10873
    assert ni.multiget([1, 500_000, 1_000_000, -7]) == {
        1: 0,
        500_000: 0,
        1_000_000: 0,
    }

    # rdd.delete(Array(1234L))
    v3 = v2.delete([1234])
    assert v3.get(1234) is None
    assert v2.get(1234) == 10873  # previous version still live
    assert v3.count() == 999_999


def test_struct_valued_joins(spark, sf_dir):
    from spark_indexedrdd_spark.sources.tables import customer_kv, load_table

    kv = customer_kv(spark, sf_dir)  # value = struct(c_acctbal, c_mktsegment)
    orders_per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    out = kv.left_join(
        orders_per_cust,
        lambda cust, n: F.coalesce(n, F.lit(0)),
        alias="n_orders",
    )
    got = {r["c_custkey"]: r["n_orders"] for r in out.collect()}
    want = {r["c_custkey"]: r["n_orders"] for r in orders_per_cust.collect()}
    assert out.count() == kv.count()
    for ck, n in want.items():
        assert got[ck] == n

    # map_values over the struct: project a field out
    bal = kv.map_values(lambda v: v.getField("c_acctbal"), alias="bal")
    assert bal.value_cols == ["bal"]
    assert bal.count() == kv.count()
