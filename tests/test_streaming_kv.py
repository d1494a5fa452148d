"""StreamingKVStore: the incremental-update pattern end to end —
a rate-limited file stream of events multiput into an orders-keyed store,
final state compared against a single batch aggregation."""

import tempfile

import pytest
from pyspark.sql import functions as F

from spark_indexedrdd_spark.checkpoint import release_lineage
from spark_indexedrdd_spark.core import SUM_MERGE, IndexedDataFrame
from spark_indexedrdd_spark.plans import explain as X
from spark_indexedrdd_spark.sources.tables import load_table
from spark_indexedrdd_spark.streaming.kv_sink import StreamingKVStore
from spark_indexedrdd_spark.streaming.windows import _as_stream_dir


def test_streaming_kv_matches_batch(spark, sf_dir):
    events_path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(events_path).schema

    base = IndexedDataFrame.build(
        spark.createDataFrame([], "user_id long, value double"),
        "user_id",
        num_partitions=4,
    )
    store = StreamingKVStore(base, merge=SUM_MERGE, compact_every=2, keep_history=True)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_as_stream_dir(events_path))
        .select("user_id", "value")
    )
    q = store.attach(
        stream, tempfile.mkdtemp(prefix="kvckpt_"), availableNow=True
    )
    q.awaitTermination(120)

    got = {r["user_id"]: r["value"] for r in store.current.collect()}
    batch = {
        r["user_id"]: r["s"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(batch)
    for k in got:
        assert abs(got[k] - batch[k]) < 1e-9, k

    # multi-version property: history is still queryable and older
    if store.history:
        assert store.history[0].count() <= store.current.count()


def _persistent_rdds(spark) -> set:
    # ids, not a count: Spark holds persisted RDDs weakly, so an earlier
    # test's RDD collected mid-test must not shift the figure
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.mark.parametrize("keep_history", [False, True])
def test_compaction_releases_replaced_versions(spark, keep_history):
    """Each compaction caches a new version; the one it replaces is
    released unless history still serves it, so the cache footprint of
    a long-running stream stays bounded. The caller's base stays cached."""
    from pyspark import StorageLevel

    base = IndexedDataFrame.build(
        spark.createDataFrame([(k, 0.0) for k in range(8)], "k long, v double"),
        "k",
        num_partitions=2,
    )
    base.count()
    before = _persistent_rdds(spark)
    store = StreamingKVStore(
        base, merge=SUM_MERGE, compact_every=4, keep_history=keep_history
    )
    n_batches = 20 if not keep_history else 8
    counts = []
    for b in range(n_batches):
        # JVM-only batch: no Python worker per micro-batch
        batch = spark.range(1).select(
            F.lit(b % 8).cast("long").alias("k"), F.lit(1.0).alias("v")
        )
        store.foreach_batch(batch, b)
        counts.append(len(_persistent_rdds(spark) - before))
    compactions = n_batches // 4
    if keep_history:
        # every compacted version is still served from the cache
        assert counts[-1] == compactions
    else:
        assert max(counts) <= 1, counts
    assert base.df.storageLevel != StorageLevel.NONE
    got = {r["k"]: r["v"] for r in store.current.collect()}
    assert got == {k: float(sum(1 for b in range(n_batches) if b % 8 == k))
                   for k in range(8)}
    for v in [store.current, *store.history]:
        release_lineage(v.df)
        v.unpersist()


def test_compaction_plan_size_stays_flat(spark, no_broadcast):
    """Compaction cuts the lineage: the compacted frame's plan does not
    grow with the number of batches folded before it, and it keeps the
    key partitioning, so neither a co-partitioned join nor the next
    merge reshuffles it."""
    base = IndexedDataFrame.from_unique(
        spark.range(8).select(F.col("id").alias("k"), F.lit(0.0).alias("v")),
        "k",
        num_partitions=2,
        cache=False,
    )
    store = StreamingKVStore(base, merge=SUM_MERGE, compact_every=2)
    sizes = []
    for b in range(20):
        batch = spark.range(1).select(
            F.lit(b % 8).cast("long").alias("k"), F.lit(1.0).alias("v")
        )
        store.foreach_batch(batch, b)
        if b % 2 == 1:
            plan = store.current.df._jdf.queryExecution().analyzed()
            sizes.append(plan.treeString().count("\n"))
    assert len(sizes) == 10 and max(sizes) == min(sizes), sizes
    got = {r["k"]: r["v"] for r in store.current.collect()}
    assert got == {k: float(sum(1 for b in range(20) if b % 8 == k))
                   for k in range(8)}
    partner = IndexedDataFrame.from_unique(
        spark.range(0, 8, 2).select(F.col("id").alias("k"), F.lit(1.0).alias("v")),
        "k",
        num_partitions=2,
    )
    joined = store.current.inner_join(partner, lambda x, y: x + y)
    assert X.count_live_shuffles(joined.df) == 0
    batch = spark.range(4, numPartitions=2).select(
        (F.col("id") * 3).alias("k"), F.lit(1.0).alias("v")
    )
    # only the updates side shuffles; the compacted base stays put
    assert X.count_live_shuffles(store.current.multiput_df(batch, f=SUM_MERGE).df) == 1
    partner.unpersist()
    release_lineage(store.current.df)
