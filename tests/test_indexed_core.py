"""Parity tests for IndexedDataFrame against the reference's end-to-end
suite (reference IndexedRDDSuite.scala:28-218). Same fixtures
(FIXTURES.md §1): pairs = keys 0..100, v = k, 5 partitions; assertions are
closed-form sets, order-insensitive (reference compares collect.toSet)."""

import re

import pytest
from pyspark.sql import functions as F

from spark_indexedrdd_spark.core import SUM_MERGE, IndexedDataFrame
from spark_indexedrdd_spark.localframe import local_rows_df
from spark_indexedrdd_spark.plans import explain as X

N = 100


@pytest.fixture(scope="module")
def pairs_df(spark):
    return spark.createDataFrame([(i, i) for i in range(N + 1)], "k long, v long")


@pytest.fixture(scope="module")
def idx(pairs_df):
    return IndexedDataFrame.build(pairs_df, "k", num_partitions=5)


def kv_set(idf):
    return {(r["k"], r["v"]) for r in idf.collect()}


# --- get / multiget (IndexedRDDSuite.scala:36-45) ---------------------- #


def test_get(idx):
    assert idx.get(0) == 0
    assert idx.get(49) == 49
    assert idx.get(-1) is None  # miss


def test_get_after_filter_miss(idx):
    evens = idx.filter(F.col("v") % 2 == 0)
    assert evens.get(2) == 2
    assert evens.get(3) is None  # present pre-filter, absent post-filter


def test_multiget(idx):
    assert idx.multiget([0, 1, 2, -1]) == {0: 0, 1: 1, 2: 2}


# --- filter (IndexedRDDSuite.scala:47-52) ------------------------------ #


def test_filter_count(idx):
    evens = idx.filter(F.col("v") % 2 == 0)
    assert evens.count() == 51
    assert kv_set(evens) == {(i, i) for i in range(0, N + 1, 2)}


# --- mapValues (IndexedRDDSuite.scala:54-59) --------------------------- #


def test_map_values(idx):
    doubled = idx.map_values(lambda v: v * 2)
    assert kv_set(doubled) == {(i, 2 * i) for i in range(N + 1)}


def test_map_values_with_key(idx):
    kv = idx.map_values(lambda k, v: k + v)
    assert kv_set(kv) == {(i, 2 * i) for i in range(N + 1)}


# --- diff (IndexedRDDSuite.scala:61-85) -------------------------------- #


def flip_evens(spark):
    return spark.createDataFrame(
        [(i, -i if i % 2 == 0 else i) for i in range(N + 1)], "k long, v long"
    )


def test_diff(spark, idx):
    d = idx.diff(flip_evens(spark))
    # values differ exactly on nonzero evens (0 == -0); keeps this's value
    assert kv_set(d) == {(i, i) for i in range(2, N + 1, 2)}


def test_diff_plain_df_mismatched_partitions(spark, pairs_df):
    a = IndexedDataFrame.build(pairs_df, "k", num_partitions=2)
    b = flip_evens(spark).repartition(3)
    assert kv_set(a.diff(b)) == {(i, i) for i in range(2, N + 1, 2)}


# --- fullOuterJoin (IndexedRDDSuite.scala:87-108) ----------------------- #


def test_full_outer_join(spark):
    n2 = 200
    common = spark.createDataFrame([(i, i) for i in range(n2)], "k long, v long")
    a = IndexedDataFrame.build(common.where("k < 100"), "k", num_partitions=5)
    b = common.where("k >= 50")
    out = a.full_outer_join(b, lambda l, r: F.coalesce(l, F.lit(0)) + F.coalesce(r, F.lit(0)))
    expected = (
        {(i, i) for i in range(50)}            # a only
        | {(i, 2 * i) for i in range(50, 100)}  # both
        | {(i, i) for i in range(100, n2)}      # b only
    )
    assert kv_set(out) == expected


def test_full_outer_join_indexed_other(spark):
    n2 = 200
    common = spark.createDataFrame([(i, i) for i in range(n2)], "k long, v long")
    a = IndexedDataFrame.build(common.where("k < 100"), "k", num_partitions=5)
    b = IndexedDataFrame.build(common.where("k >= 50"), "k", num_partitions=5)
    out = a.full_outer_join(b, lambda l, r: F.coalesce(l, F.lit(0)) + F.coalesce(r, F.lit(0)))
    assert out.count() == n2


# --- leftJoin (IndexedRDDSuite.scala:110-132) --------------------------- #


def test_left_join(spark, idx):
    evens = spark.createDataFrame([(i, i) for i in range(0, N + 1, 2)], "k long, v long")
    out = idx.left_join(evens, lambda l, r: l - F.coalesce(r, F.lit(0)))
    expected = {(i, 0) for i in range(0, N + 1, 2)} | {
        (i, i) for i in range(1, N + 1, 2)
    }
    assert kv_set(out) == expected


def test_left_join_mismatched_partitions(spark, pairs_df):
    a = IndexedDataFrame.build(pairs_df, "k", num_partitions=2)
    evens = spark.createDataFrame(
        [(i, i) for i in range(0, N + 1, 2)], "k long, v long"
    ).repartition(3)
    out = a.left_join(evens, lambda l, r: l - F.coalesce(r, F.lit(0)))
    assert out.count() == N + 1


# --- join, type-preserving (IndexedRDDSuite.scala:134-145) -------------- #


def test_join_update(spark, idx):
    evens = spark.createDataFrame([(i, 10 * i) for i in range(0, N + 1, 2)], "k long, v long")
    out = idx.join_update(evens, lambda old, new: old + new)
    expected = {(i, 11 * i) for i in range(0, N + 1, 2)} | {
        (i, i) for i in range(1, N + 1, 2)
    }
    assert kv_set(out) == expected


# --- innerJoin (IndexedRDDSuite.scala:147-169) -------------------------- #


def test_inner_join(spark, idx):
    evens = spark.createDataFrame([(i, i) for i in range(0, N + 1, 2)], "k long, v long")
    out = idx.inner_join(evens, lambda l, r: l + r)
    assert kv_set(out) == {(i, 2 * i) for i in range(0, N + 1, 2)}


def test_inner_join_mismatched_partitions(spark, pairs_df):
    a = IndexedDataFrame.build(pairs_df, "k", num_partitions=3)
    evens = spark.createDataFrame(
        [(i, i) for i in range(0, N + 1, 2)], "k long, v long"
    ).repartition(2)
    assert a.inner_join(evens, lambda l, r: l + r).count() == 51


# --- aggregateUsingIndex (IndexedRDDSuite.scala:171-182) ---------------- #


def test_aggregate_using_index(spark, idx):
    messages = spark.createDataFrame(
        [(i, 1) for i in range(N + 1)]
        + [(i, 1) for i in range(0, N + 1, 2)]
        + [(-1, 5)],  # key absent from the index survives (reference :179-181)
        "k long, v long",
    )
    out = idx.aggregate_using_index(messages, SUM_MERGE)
    expected = (
        {(i, 2) for i in range(0, N + 1, 2)}
        | {(i, 1) for i in range(1, N + 1, 2)}
        | {(-1, 5)}
    )
    assert kv_set(out) == expected


# --- put/multiput/multiput_df (IndexedRDDSuite.scala:191-210) ----------- #


def test_put_new_and_existing(idx):
    v2 = idx.put(-1, 999)
    assert v2.get(-1) == 999 and v2.count() == N + 2
    v3 = v2.put(0, 42)
    assert v3.get(0) == 42 and v3.count() == N + 2


def test_multiput_sum_merge(idx):
    out = idx.multiput({0: 1, 1: 1, -1: -1}, f=SUM_MERGE)
    assert out.multiget([0, 1, -1]) == {0: 1, 1: 2, -1: -1}
    # version isolation: parent unchanged (reference README.md:31-34)
    assert idx.multiget([0, 1]) == {0: 0, 1: 1}
    assert idx.get(-1) is None


def test_multiput_df(spark, idx):
    updates = spark.createDataFrame([(0, 1), (1, 1), (-1, -1)], "k long, v long")
    out = idx.multiput_df(updates, f=SUM_MERGE)
    assert out.multiget([0, 1, -1]) == {0: 1, 1: 2, -1: -1}
    assert out.count() == N + 2


def test_multiput_df_duplicate_update_keys(spark, idx):
    updates = spark.createDataFrame([(0, 1), (0, 2), (-1, 3), (-1, 4)], "k long, v long")
    out = idx.multiput_df(updates, f=SUM_MERGE)
    assert out.get(0) == 3  # 0 + 1 + 2
    assert out.get(-1) == 7  # 3 + 4


# --- delete (IndexedRDDSuite.scala:212-217) ----------------------------- #


def test_delete(idx):
    out = idx.delete([0, -1])  # -1 absent: no-op
    assert out.get(0) is None
    assert out.count() == N
    assert idx.get(0) == 0  # parent unchanged
    # the driver batch is a local relation the planner broadcasts
    plan = X.final_plan_section(X.executed_plan(out.df))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


# --- build semantics ----------------------------------------------------- #


def test_build_dedupes_deterministically(spark):
    df = spark.createDataFrame([(1, 5), (1, 9), (2, 3)], "k long, v long")
    idx2 = IndexedDataFrame.build(df, "k", num_partitions=2)
    assert idx2.multiget([1, 2]) == {1: 9, 2: 3}  # max-value wins


def test_build_merge_fn(spark):
    df = spark.createDataFrame([(1, 5), (1, 9), (2, 3)], "k long, v long")
    idx2 = IndexedDataFrame.build(df, "k", num_partitions=2, merge=SUM_MERGE)
    assert idx2.multiget([1, 2]) == {1: 14, 2: 3}


# --- composite keys (KeySerializer.scala:145-176 parity) ----------------- #


def test_composite_keys_end_to_end(spark):
    df = spark.createDataFrame(
        [(i, j, i * 10 + j) for i in range(10) for j in range(3)],
        "k1 long, k2 int, v long",
    )
    cidx = IndexedDataFrame.build(df, ["k1", "k2"], num_partitions=4)
    assert cidx.count() == 30
    assert cidx.get((3, 2)) == 32
    assert cidx.multiget([(0, 0), (9, 2), (5, 99)]) == {(0, 0): 0, (9, 2): 92}
    out = cidx.multiput({(0, 0): 100, (99, 0): 1}, f=SUM_MERGE)
    assert out.get((0, 0)) == 100 and out.get((99, 0)) == 1
    assert out.count() == 31
    deleted = out.delete([(0, 0), (42, 42)])
    assert deleted.get((0, 0)) is None and deleted.count() == 30


# --- point-read overlay (reference PARTPartition.scala:40-69) ---------- #


def test_overlay_get_matches_plan(idx):
    """Overlay-served point reads must equal what the df plan computes."""
    v2 = idx.put(7, 7000)
    assert v2._point_parent is not None  # overlay active
    assert v2.get(7) == 7000
    # the plan agrees with the overlay
    assert {r.v for r in v2.df.where(F.col("k") == 7).collect()} == {7000}
    # untouched key falls through to the parent
    assert v2.get(13) == 13
    # version isolation both ways
    assert idx.get(7) == 7


def test_overlay_chain_put_delete_put(idx):
    v2 = idx.put(3, 333).delete([3, 5]).put(5, 555)
    assert v2.get(3) is None
    assert v2.get(5) == 555
    assert v2.get(4) == 4
    plan = {r.k: r.v for r in v2.df.where(F.col("k").isin([3, 4, 5])).collect()}
    assert plan == {4: 4, 5: 555}


def test_overlay_new_key_and_none_passthrough(idx):
    v2 = idx.put(9999, 42)
    assert v2.get(9999) == 42
    assert v2.get(-1) is None
    assert {r.v for r in v2.df.where(F.col("k") == 9999).collect()} == {42}


def test_merge_put_overlay_contract(idx):
    """The merge-multiput overlay (reference LazyPartition member
    probing, LazyPartition.scala:43-46): a `get` after
    `multiput(f=SUM_MERGE)` probes the PARENT for the old value and
    merges driver-side — the full-outer-join plan never executes — and
    the answer is identical to the plan's."""
    v2 = idx.multiput({7: 1000, 99999: 5}, f=SUM_MERGE)
    # the overlay IS installed (round 2 behavior; round 1 skipped it)
    assert v2._point_parent is idx and v2._point_merge_spec is not None
    # merged value == plan's value (existing key: old + new)
    assert v2.get(7) == 1007
    assert {r.v for r in v2.df.where(F.col("k") == 7).collect()} == {1007}
    # absent key -> z(new) = new, also plan-identical
    assert v2.get(99999) == 5
    assert {r.v for r in v2.df.where(F.col("k") == 99999).collect()} == {5}
    # untouched key falls through to the parent
    assert v2.get(13) == 13


def test_merge_put_overlay_ansi_overflow(spark):
    """Under ANSI mode (Spark 4 default) long+long overflow raises in the
    plan — the driver-side mirror must raise too, never return a wrapped
    value the plan would refuse to produce (ADVICE r2)."""
    big = (1 << 63) - 10
    df = spark.createDataFrame([(1, big)], "k long, v long")
    kv = IndexedDataFrame.build(df, "k", num_partitions=2)
    ansi = str(spark.conf.get("spark.sql.ansi.enabled", "true")).lower() == "true"
    v2 = kv.multiput({1: 100}, f=SUM_MERGE)  # overflows int64
    if ansi:
        with pytest.raises(ArithmeticError):
            v2.get(1)
    else:
        assert v2.get(1) == ((big + 100 + (1 << 63)) % (1 << 64)) - (1 << 63)
    # non-overflowing sums are served either way
    v3 = kv.multiput({1: -100}, f=SUM_MERGE)
    assert v3.get(1) == big - 100


def test_merge_put_overlay_reads_ansi_at_get_time(spark):
    """The ANSI flag is runtime-settable: toggling it BETWEEN multiput and
    get must change the overlay's behavior exactly as it would change the
    plan's (mirror resolved at read time, not snapshotted — ADVICE r3)."""
    prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    big = (1 << 63) - 10
    wrapped = ((big + 100 + (1 << 63)) % (1 << 64)) - (1 << 63)
    df = spark.createDataFrame([(1, big)], "k long, v long")
    kv = IndexedDataFrame.build(df, "k", num_partitions=2)
    try:
        # put under ANSI on, read under ANSI off -> wraps
        spark.conf.set("spark.sql.ansi.enabled", "true")
        v2 = kv.multiput({1: 100}, f=SUM_MERGE)
        spark.conf.set("spark.sql.ansi.enabled", "false")
        assert v2.get(1) == wrapped
        # put under ANSI off, read under ANSI on -> raises like the plan
        v3 = kv.multiput({1: 100}, f=SUM_MERGE)
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(ArithmeticError):
            v3.get(1)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_merge_put_overlay_wraps_when_ansi_off(spark):
    """With spark.sql.ansi.enabled=false the JVM wraps at 64 bits — the
    mirror must wrap identically (checked against the executed plan)."""
    prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        big = (1 << 63) - 10
        df = spark.createDataFrame([(1, big)], "k long, v long")
        kv = IndexedDataFrame.build(df, "k", num_partitions=2)
        v2 = kv.multiput({1: 100}, f=SUM_MERGE)
        expected = ((big + 100 + (1 << 63)) % (1 << 64)) - (1 << 63)
        assert v2.get(1) == expected
        assert [r.v for r in v2.df.where(F.col("k") == 1).collect()] == [expected]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_set_name_registers_view(spark, idx):
    """Op 21 cosmetics (reference IndexedRDD.scala:52-56): set_name gives
    the frame a name + SQL access via a temp view."""
    out = idx.set_name("named_kv")
    assert out is idx and idx.name == "named_kv"
    assert spark.sql("SELECT count(*) AS c FROM named_kv").collect()[0].c == N + 1


def test_decimal38_key_point_ops(spark):
    """BigInt key parity (reference KeySerializer.scala:69-80 maps to
    DECIMAL(38,0) per SURVEY §1.4): build / get / multiget / put / delete
    on a decimal-keyed frame, including a >64-bit key value."""
    from decimal import Decimal

    huge = Decimal(10) ** 30 + 7  # does not fit in int64
    df = spark.createDataFrame(
        [(Decimal(i), float(i)) for i in range(10)] + [(huge, 123.5)],
        "k decimal(38,0), v double",
    )
    kv = IndexedDataFrame.build(df, "k", num_partitions=3)
    assert kv.get(Decimal(3)) == 3.0
    assert kv.get(huge) == 123.5
    assert kv.get(Decimal(999)) is None
    got = kv.multiget([Decimal(1), huge, Decimal(999)])
    assert got == {Decimal(1): 1.0, huge: 123.5}
    v2 = kv.put(Decimal(3), 33.5).delete([Decimal(0), huge])
    assert v2.get(Decimal(3)) == 33.5
    assert v2.get(Decimal(0)) is None and v2.get(huge) is None
    assert v2.count() == 9


def test_uuid_string_key_point_ops(spark):
    """UUID key parity (reference KeySerializer.scala:100-108 maps to
    canonical 36-char uuid strings): point ops route and compare
    correctly on uuid-formatted string keys."""
    import uuid

    keys = [str(uuid.UUID(int=i)) for i in range(8)]
    df = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k string, v long"
    )
    kv = IndexedDataFrame.build(df, "k", num_partitions=3)
    assert kv.get(keys[5]) == 5
    assert kv.get(str(uuid.UUID(int=10**9))) is None
    assert kv.multiget(keys[:3]) == {keys[0]: 0, keys[1]: 1, keys[2]: 2}
    v2 = kv.delete(keys[:2]).put(keys[7], 700)
    assert v2.get(keys[0]) is None
    assert v2.get(keys[7]) == 700
    assert v2.count() == 6


def test_multiput_strict_value_coercion_raises(idx):
    """multiput value coercion is STRICT (round 2 deliberate change):
    bool into a numeric column, str into long, and out-of-int64-range
    ints raise instead of being silently coerced."""
    with pytest.raises(TypeError):
        idx.multiput({1: True})  # bool is a kind error, not 1
    with pytest.raises(TypeError):
        idx.multiput({1: "5"})  # no silent str->int parsing
    with pytest.raises(ValueError):
        idx.multiput({1: 1 << 64})  # out of int64 range


def test_overlay_value_coercion(spark):
    df = spark.createDataFrame([(1, 1.5)], "k long, v double")
    kv = IndexedDataFrame.build(df, "k", num_partitions=2)
    v2 = kv.put(1, 10873)  # int into a double column
    got = v2.get(1)
    assert got == 10873.0 and isinstance(got, float)


def test_with_point_index_routes_multiget(idx):
    plain = idx.multiget([0, 50, 100, -3])
    v = idx.with_point_index()
    assert v is idx and idx._pindex is not None
    assert idx.multiget([0, 50, 100, -3]) == plain
    assert idx.get(50) == 50 and idx.get(-3) is None
    # overlay versions answer mutations locally, remainder via the index
    v2 = idx.put(50, 5000).delete([0])
    assert v2.get(50) == 5000
    assert v2.get(0) is None
    assert v2.get(100) == 100


def test_multiget_sql_unsafe_string_keys_fall_back(spark):
    """Keys the SQL-literal renderer refuses (quotes, backslashes, NaN)
    must still resolve, via the semi-join route, with the same answer
    a Column ``isin`` filter over the batch gives (NaN matches NaN,
    0.0 matches -0.0)."""
    weird = ["o'brien", 'a"b', "back\\slash", "plain"]
    df = spark.createDataFrame(
        [(w, i) for i, w in enumerate(weird)], "k string, v long"
    )
    kv = IndexedDataFrame.build(df, "k", num_partitions=2)
    got = kv.multiget(weird + ["missing"])
    assert got == {w: i for i, w in enumerate(weird)}

    nan = float("nan")
    fdf = local_rows_df(
        spark, [(1.5, 0), (nan, 1), (-0.0, 2), (2.5, 3)], "k double, v long"
    )
    fkv = IndexedDataFrame.build(fdf, "k", num_partitions=2)
    batch = [1.5, nan, 0.0, -0.0, 9.75]

    def by_repr(d):  # NaN != NaN, so compare keys by repr
        return {repr(k): v for k, v in d.items()}

    want = {r["k"]: r["v"] for r in fkv.df.where(F.col("k").isin(batch)).collect()}
    assert len(want) == 3
    assert by_repr(fkv.multiget(batch)) == by_repr(want)


@pytest.mark.parametrize("n_batch", [3, 2000])
def test_multiget_composite_takes_semi_join(spark, monkeypatch, n_batch):
    """Composite-key batches are answered by a left semi-join against
    the batch, never by an OR-of-ANDs filter (which outgrows the 64 KB
    codegen limit and runs for seconds at a few hundred keys)."""
    ids = spark.range(2000)
    kv = IndexedDataFrame.from_unique(
        ids.select(
            F.expr("id div 3").alias("k1"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("k2"),
            F.col("id").alias("v"),
        ),
        ["k1", "k2"],
        num_partitions=3,
    )

    def key(i):
        return (i // 3, f"s{i % 3}")

    if n_batch == 3:
        batch = [key(1), key(1802), (4, "nope")]
        want = {key(1): 1, key(1802): 1802}
    else:  # half hits, half past the map's last id
        batch = [key(i) for i in range(0, 4000, 2)]
        want = {key(i): i for i in range(0, 2000, 2)}
    assert len(batch) == n_batch

    seen = []
    frame_cls = type(kv.df)
    collect = frame_cls.collect

    def spy(self):
        seen.append(self)
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", spy)
    assert kv.multiget(batch) == want
    monkeypatch.undo()
    (read,) = seen
    plan = X.final_plan_section(X.executed_plan(read))
    assert "LeftSemi" in plan, plan
    filters = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert not any(" OR " in ln for ln in filters), filters


def test_single_key_in_route_stops_at_crossover(spark, monkeypatch):
    """A single-key batch of up to ``_IN_MAX_KEYS`` renderable literals
    takes the IN filter; one key more takes the semi-join, unless a key
    does not fit the key column's type."""
    from spark_indexedrdd_spark import core

    kv = IndexedDataFrame.from_unique(
        spark.range(2000).select(F.col("id").alias("k"), F.col("id").alias("v")),
        "k",
        num_partitions=3,
    )
    seen = []
    frame_cls = type(kv.df)
    collect = frame_cls.collect

    def spy(self):
        seen.append(self)
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", spy)
    for n, semi in ((core._IN_MAX_KEYS, False), (core._IN_MAX_KEYS + 1, True)):
        batch = list(range(0, 4 * n, 4))  # the last few miss
        assert kv.multiget(batch) == {k: k for k in batch if k < 2000}
        plan = X.final_plan_section(X.executed_plan(seen.pop()))
        assert ("LeftSemi" in plan) == semi, plan

    # past the crossover, a key beyond an int key column's range cannot
    # be a local relation's row; the IN filter answers it as a miss
    kv32 = IndexedDataFrame.from_unique(
        kv.df.select(F.col("k").cast("int").alias("k"), "v"), "k", num_partitions=3
    )
    batch = list(range(core._IN_MAX_KEYS)) + [2**40]
    assert kv32.multiget(batch) == {k: k for k in batch[:-1]}
    plan = X.final_plan_section(X.executed_plan(seen.pop()))
    assert "LeftSemi" not in plan, plan


# --- MERGE INTO sugar --------------------------------------------------- #


def test_merge_into_matrix(spark):
    from spark_indexedrdd_spark.core import merge_into

    base_df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    )
    ups = spark.createDataFrame([(2, 200), (9, 900)], "k long, u long")
    kv = IndexedDataFrame.build(base_df, "k", num_partitions=2)

    def snap(idf):
        return {r.k: r.v for r in idf.collect()}

    assert snap(merge_into(kv, ups)) == {1: 10, 2: 200, 3: 30, 9: 900}
    assert snap(merge_into(kv, ups, when_not_matched="ignore")) == {
        1: 10, 2: 200, 3: 30,
    }
    assert snap(merge_into(kv, ups, when_matched="keep")) == {
        1: 10, 2: 20, 3: 30, 9: 900,
    }
    assert snap(
        merge_into(kv, ups, when_matched=lambda old, new: old + new)
    ) == {1: 10, 2: 220, 3: 30, 9: 900}
    assert snap(
        merge_into(kv, ups, when_matched="delete", when_not_matched="ignore")
    ) == {1: 10, 3: 30}
    assert snap(merge_into(kv, ups, when_matched="delete")) == {
        1: 10, 3: 30, 9: 900,
    }
    # base untouched (functional semantics)
    assert snap(kv) == {1: 10, 2: 20, 3: 30}


# --- reindex: the one materialization (LazyPartition.scala:134-135) ----- #


def _plan_size(df) -> int:
    # expression ids grow across versions; strip them so the figure
    # counts plan nodes, not digits
    return len(re.sub(r"#\d+", "#", df._jdf.queryExecution().executedPlan().toString()))


def test_reindex_cycles_stay_flat(spark, no_broadcast):
    """Each reindex() cuts the lineage and keeps the key partitioning:
    the reindexed plan is one LogicalRDD leaf, and a co-partitioned join
    neither grows with the cycles before it nor reshuffles either side."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    n = 20_000
    cur = IndexedDataFrame.from_unique(
        spark.range(n).select(F.col("id").alias("k"), F.col("id").alias("v")),
        "k", num_partitions=4,
    )
    other = IndexedDataFrame.from_unique(
        spark.range(0, n, 3).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v")),
        "k", num_partitions=4,
    )
    model = {k: k for k in range(n)}
    sizes = []
    for c in range(6):
        ups = {k: -k for k in range(c * 100, c * 100 + 50)}
        cur = cur.multiput(ups)
        model.update(ups)
        sums = {k: 7 for k in range(c * 100 + 25, c * 100 + 75)} | {n + c: 7}
        cur = cur.multiput(sums, f=SUM_MERGE)
        for k, d in sums.items():
            model[k] = model.get(k, 0) + d
        dels = list(range(c * 100 + 60, c * 100 + 90))
        cur = cur.delete(dels)
        for k in dels:
            model.pop(k, None)
        cur = cur.reindex()
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
        assert cur.df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
        joined = cur.inner_join(other, lambda x, y: x + y)
        assert X.count_live_shuffles(joined.df) == 0, X.final_plan_section(
            X.executed_plan(joined.df)
        )
        sizes.append(_plan_size(joined.df))
    assert sizes[-1] <= sizes[0], sizes
    assert {r["k"]: r["v"] for r in cur.collect()} == model
    probe = [0, 30, 70, 560, 580, n - 1, n + 5, n + 6]
    assert cur.multiget(probe) == {k: model[k] for k in probe if k in model}
    # a failing checkpoint job still restores the AQE flag
    bad = cur.map_values(
        lambda v: F.when(v.isNotNull(), F.raise_error(F.lit("boom"))).otherwise(v)
    )
    with pytest.raises(Exception, match="boom"):
        bad.reindex()
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe


def test_mutation_chain_depth_is_bounded(spark):
    """An un-reindexed multiput/delete chain comes back through reindex()
    every _MAX_CHAIN ops, so its plan never nests deeper than that (an
    unbounded chain overflowed the analyzer's stack at depth 401)."""
    from spark_indexedrdd_spark.core import _MAX_CHAIN

    cur = IndexedDataFrame.from_unique(
        spark.range(1_000).select(F.col("id").alias("k"), F.col("id").alias("v")),
        "k", num_partitions=4,
    )
    model = {k: k for k in range(1_000)}
    for i in range(70):
        if i % 2 == 0:
            cur = cur.multiput({1_000 + i: i})
            model[1_000 + i] = i
        else:
            cur = cur.delete([i])
            model.pop(i, None)
    tree = cur.df._jdf.queryExecution().analyzed().treeString()
    joins = [ln for ln in tree.splitlines() if ln.lstrip(" :+-").startswith("Join ")]
    assert len(joins) <= _MAX_CHAIN, len(joins)
    assert {r["k"]: r["v"] for r in cur.collect()} == model
    probe = [0, 1, 2, 63, 64, 65, 69, 70, 1_000, 1_062, 1_064, 1_068, 1_069]
    assert cur.multiget(probe) == {k: model[k] for k in probe if k in model}


def test_concurrent_reindex_restores_aqe(spark):
    """reindex() from several threads at once (a streaming store's
    compaction next to the caller's own) leaves the AQE flag as it was."""
    from concurrent.futures import ThreadPoolExecutor

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    frames = [
        IndexedDataFrame.from_unique(
            spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k"), F.col("id").alias("v")),
            "k", num_partitions=2, cache=False,
        )
        for i in range(6)
    ]
    with ThreadPoolExecutor(max_workers=6) as pool:
        done = list(pool.map(lambda f: f.reindex(), frames, timeout=120))
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert [d.count() for d in done] == [10] * 6


# --- index layout: writes shuffle only their batch ---------------------- #


@pytest.mark.parametrize(
    "op",
    ["multiput", "multiput_sum", "multiput_df", "delete", "build_sum",
     "aggregate_using_index"],
)
def test_writes_keep_index_layout(spark, request, op):
    """Every keyed fold lands in ``hashpartitioning(keys, num_partitions)``
    whatever ``spark.sql.shuffle.partitions`` says (8 here, the index
    has 2): a mutation shuffles only its batch and keeps 2 physical
    partitions, and a fold plans one exchange (the reference's multiput
    probes update keys into the existing partitions,
    PARTPartition.scala:51-61)."""
    n, parts = 20_000, 2
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != parts
    rows = spark.range(n).select(F.col("id").alias("k"), F.col("id").alias("v"))
    model = {k: k for k in range(n)}
    base = IndexedDataFrame.from_unique(rows, "k", num_partitions=parts)
    # 300 keys each given twice, a third of them absent from the base
    dup_keys = [k * 99 for k in range(300)]
    if op in ("build_sum", "aggregate_using_index"):
        if op == "build_sum":
            out = IndexedDataFrame.build(
                rows.select((F.col("k") % 5_000).alias("k"), "v"),
                "k", num_partitions=parts, merge=SUM_MERGE, cache=False,
            )
            model = {}
            for k in range(n):
                model[k % 5_000] = model.get(k % 5_000, 0) + k
        else:
            elems = local_rows_df(spark, [(k, 1) for k in dup_keys * 2], "k long, v long")
            out = base.aggregate_using_index(elems, SUM_MERGE)
            model = {k: 2 for k in dup_keys}
        plan = X.final_plan_section(X.executed_plan(out.df))
        assert X.count_exchanges(plan) == 1, plan
    else:
        if op == "multiput":
            ups = {k: -k for k in dup_keys}
            out = base.multiput(ups)
            model.update(ups)
        elif op == "multiput_sum":
            out = base.multiput({k: 5 for k in dup_keys}, f=SUM_MERGE)
            for k in dup_keys:
                model[k] = model.get(k, 0) + 5
        elif op == "multiput_df":
            ups = spark.range(600).select(
                ((F.col("id") % 300) * 99).alias("k"), F.lit(1).cast("long").alias("v")
            )
            out = base.multiput_df(ups, f=SUM_MERGE)
            for k in dup_keys:
                model[k] = model.get(k, 0) + 2
        else:
            request.getfixturevalue("no_broadcast")
            out = base.delete(dup_keys)
            for k in dup_keys:
                model.pop(k, None)
        assert X.count_live_shuffles(out.df) == 1, X.final_plan_section(
            X.executed_plan(out.df)
        )
    assert out.df.rdd.getNumPartitions() == parts
    assert {r["k"]: r["v"] for r in out.df.collect()} == model
    base.unpersist()
