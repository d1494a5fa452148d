"""Persisted multi-version KV store (sources/versioned.py): version
isolation across commits, fold == live-operator equivalence, compaction
transparency, and cross-"session" reopen."""

import json
import os

import pytest
from pyspark.sql import functions as F

from spark_indexedrdd_spark.core import SUM_MERGE, IndexedDataFrame
from spark_indexedrdd_spark.sources.versioned import VersionedKVStore


@pytest.fixture()
def store(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    )
    idf = IndexedDataFrame.from_unique(base, "k", num_partitions=8, cache=False)
    return VersionedKVStore.init(idf, str(tmp_path / "vstore"))


def _as_dict(idf):
    return {r.k: r.v for r in idf.df.collect()}


def test_versions_coexist_and_are_isolated(store, spark):
    """The reference README demo (README.md:29-45): commit new versions,
    old ones keep answering with their own contents."""
    ups = spark.createDataFrame([(1, 100.0), (200, 1.5)], "k long, v double")
    v1 = store.commit_puts(ups)                       # overwrite
    v2 = store.commit_deletes(
        spark.createDataFrame([(2,), (999,)], "k long")
    )
    d0, d1, d2 = (_as_dict(store.read(v)) for v in (0, v1, v2))
    assert d0[1] == 1.0 and 2 in d0 and 200 not in d0
    assert d1[1] == 100.0 and d1[200] == 1.5 and 2 in d1
    assert d2[1] == 100.0 and 2 not in d2 and 999 not in d2
    assert len(d0) == 100 and len(d1) == 101 and len(d2) == 100


def test_fold_equals_live_operators(store, spark):
    """read(latest) must equal applying the same deltas to a live frame
    with multiput_df/delete_df — on-disk deltas and in-memory updates
    mean the same thing."""
    ups = spark.createDataFrame(
        [(i, 10.0) for i in range(0, 100, 7)] + [(500, 3.0)],
        "k long, v double",
    )
    dels = spark.createDataFrame([(3,), (500,)], "k long")
    store.commit_puts(ups, merge="sum")
    store.commit_deletes(dels)

    live = IndexedDataFrame.from_unique(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, v double"
        ),
        "k", num_partitions=8, cache=False,
    ).multiput_df(ups, f=SUM_MERGE).delete_df(dels)
    assert _as_dict(store.read()) == _as_dict(live)


def test_compaction_is_transparent(store, spark):
    for i in range(3):
        store.commit_puts(
            spark.createDataFrame([(i, 1.0)], "k long, v double"),
            merge="sum",
        )
    before = _as_dict(store.read())
    vc = store.compact()
    assert _as_dict(store.read(vc)) == before
    # time travel to pre-compaction versions still works
    assert _as_dict(store.read(1))[0] == 1.0
    # post-compaction commits fold from the snapshot
    store.commit_puts(
        spark.createDataFrame([(0, 5.0)], "k long, v double"), merge="sum"
    )
    assert _as_dict(store.read())[0] == before[0] + 5.0


def test_reopen_reads_same_table(store, spark):
    store.commit_puts(
        spark.createDataFrame([(7, 70.0)], "k long, v double")
    )
    reopened = VersionedKVStore.open(spark, store.path)
    assert _as_dict(reopened.read()) == _as_dict(store.read())
    assert reopened.versions() == store.versions()


@pytest.mark.slow
def test_random_commit_sequences_match_python_model(spark, tmp_path):
    """Hypothesis: any sequence of overwrite-put / sum-put / delete
    batches must make EVERY version's read agree with a plain Python
    dict-history model."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    keys = st.integers(min_value=0, max_value=12)
    vals = st.integers(min_value=-5, max_value=5).map(float)
    batch = st.one_of(
        st.tuples(st.just("over"), st.dictionaries(keys, vals, min_size=1, max_size=4)),
        st.tuples(st.just("sum"), st.dictionaries(keys, vals, min_size=1, max_size=4)),
        st.tuples(st.just("del"), st.sets(keys, min_size=1, max_size=3)),
    )

    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(st.lists(batch, min_size=1, max_size=4))
    def run(batches):
        counter[0] += 1
        base = {i: float(i) for i in range(5)}
        idf = IndexedDataFrame.from_unique(
            spark.createDataFrame(list(base.items()), "k long, v double"),
            "k", num_partitions=4, cache=False,
        )
        path = str(tmp_path / f"h{counter[0]}")
        store = VersionedKVStore.init(idf, path)
        model_history = [dict(base)]
        for kind, payload in batches:
            model = dict(model_history[-1])
            if kind == "del":
                store.commit_deletes(
                    spark.createDataFrame([(k,) for k in payload], "k long")
                )
                for k in payload:
                    model.pop(k, None)
            else:
                store.commit_puts(
                    spark.createDataFrame(
                        list(payload.items()), "k long, v double"
                    ),
                    merge="sum" if kind == "sum" else "overwrite",
                )
                for k, v in payload.items():
                    model[k] = (
                        model.get(k, 0.0) + v if kind == "sum" and k in model
                        else v
                    )
            model_history.append(model)
        for v, expected in zip(store.versions(), model_history):
            assert _as_dict(store.read(v)) == expected, (v, batches)

    run()


def test_changes_between_versions(store, spark):
    """CDC extract: adds, deletes, and value updates — nothing else."""
    v1 = store.commit_puts(
        spark.createDataFrame([(1, 100.0), (500, 5.0)], "k long, v double")
    )
    v2 = store.commit_deletes(spark.createDataFrame([(2,)], "k long"))
    ch = {
        r.k: (r.change, r.old, r.new)
        for r in store.changes(0, v2).collect()
    }
    assert ch == {
        1: ("updated", 1.0, 100.0),
        500: ("added", None, 5.0),
        2: ("deleted", 2.0, None),
    }
    # reflexive diff is empty
    assert store.changes(v1, v1).count() == 0


def test_tagged_commits_are_idempotent(store, spark):
    ups = spark.createDataFrame([(1, 5.0)], "k long, v double")
    v_a = store.commit_puts(ups, merge="sum", tag="batch-7")
    v_b = store.commit_puts(ups, merge="sum", tag="batch-7")  # replay
    assert v_a == v_b
    assert store.versions() == [0, v_a]
    assert _as_dict(store.read())[1] == 1.0 + 5.0  # applied exactly once


def test_stream_ingest_matches_batch_fold(spark, tmp_path):
    """File-per-trigger stream of sum-deltas: the store's latest version
    must equal folding the full delta set into the base in one batch."""
    import tempfile

    base = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, v double"
    )
    idf = IndexedDataFrame.from_unique(base, "k", num_partitions=4, cache=False)
    store = VersionedKVStore.init(idf, str(tmp_path / "vstream"))
    src = str(tmp_path / "vstream_src")
    deltas = spark.createDataFrame(
        [(i % 50, 1.0) for i in range(150)], "k long, v double"
    )
    for i in range(3):
        deltas.where(f"k % 3 = {i}").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(deltas.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = store.stream_ingest(
        stream, tempfile.mkdtemp(prefix="vkvckpt_"), merge="sum",
        compact_every=2, availableNow=True,
    )
    q.awaitTermination(120)
    want = _as_dict(idf.multiput_df(deltas, f=SUM_MERGE))
    assert _as_dict(store.read()) == want


@pytest.mark.slow
def test_fresh_checkpoint_never_drops_below_another_runs_watermark(
    spark, tmp_path
):
    """r13 ADVICE: batch ids are monotonic only PER CHECKPOINT, but the
    pruned-batch replay watermark used to be global — a stream
    restarted against the same store with a FRESH checkpoint (ids
    reset to 0) silently no-oped all ids at/below another run's
    watermark. stream_ingest now namespaces replay tags by the
    checkpoint's query id, and the vacuum compacts one watermark per
    namespace, so run B's batch 0 lands even after run A's batch 0..N
    were committed, compacted AND pruned."""
    import tempfile

    base = spark.createDataFrame(
        [(i, 0.0) for i in range(10)], "k long, v double"
    )
    idf = IndexedDataFrame.from_unique(base, "k", num_partitions=2, cache=False)
    store = VersionedKVStore.init(idf, str(tmp_path / "vfresh"))

    def run(src_rows, src_dir, ckpt):
        src = str(tmp_path / src_dir)
        for i, batch in enumerate(src_rows):
            spark.createDataFrame(batch, "k long, v double").coalesce(
                1
            ).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("k long, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = store.stream_ingest(
            stream, ckpt, merge="sum", compact_every=2, availableNow=True
        )
        q.awaitTermination(120)

    # run A: 3 micro-batches through checkpoint A, then prune its
    # replay entries into the watermark
    run(
        [[(1, 1.0)], [(2, 2.0)], [(3, 3.0)]],
        "srcA", tempfile.mkdtemp(prefix="vkv_ckptA_"),
    )
    store.compact()
    store.vacuum(keep_versions=1, prune_manifest=True)
    m = json.load(open(os.path.join(store.path, "meta.json")))
    wms = m["applied_watermarks"]
    assert wms and all(isinstance(w, int) for w in wms.values())
    assert all(len(stem) == 13 for stem in wms), (
        "stream_ingest tags should be namespaced now"
    )
    pre = _as_dict(store.read())
    assert (pre[1], pre[2], pre[3]) == (1.0, 2.0, 3.0)
    # run B: a FRESH checkpoint, ids restart at 0 — every batch must
    # LAND (the old global watermark silently dropped all of these)
    run(
        [[(1, 10.0)], [(2, 20.0)]],
        "srcB", tempfile.mkdtemp(prefix="vkv_ckptB_"),
    )
    got = _as_dict(store.read())
    assert (got[1], got[2], got[3]) == (11.0, 22.0, 3.0), (
        "fresh-checkpoint batches were swallowed by another run's "
        "replay watermark"
    )
    # and run A's pruned ids still replay as no-ops in THEIR namespace
    stem = next(iter(wms))
    v_replay = store.commit_puts(
        spark.createDataFrame([(1, 99.0)], "k long, v double"),
        merge="sum", tag=f"{stem}0",
    )
    assert v_replay == m["vacuum_floor"]
    assert _as_dict(store.read()) == got


def test_unknown_version_and_merge_rejected(store, spark):
    with pytest.raises(ValueError):
        store.read(99)
    with pytest.raises(ValueError):
        store.commit_puts(
            spark.createDataFrame([(1, 1.0)], "k long, v double"),
            merge="max",
        )


def test_vacuum_reclaims_old_versions_and_refuses_them(store, spark):
    """Retention-horizon GC: vacuum(keep_versions=1) after a compaction
    keeps the newest (snapshot) version serving byte-identically,
    refuses every reclaimed version loudly, and actually deletes the
    dead version directories."""
    import os

    ups = spark.createDataFrame([(1, 100.0), (200, 1.5)], "k long, v double")
    v1 = store.commit_puts(ups)
    v2 = store.commit_deletes(spark.createDataFrame([(2,)], "k long"))
    v3 = store.compact()
    pre = _as_dict(store.read(v3))
    dead = store.vacuum(keep_versions=1)
    assert dead == [0, v1, v2]
    for v in dead:
        assert not os.path.exists(os.path.join(store.path, f"v{v}"))
    for v in dead:
        with pytest.raises(ValueError, match="vacuum floor"):
            store.read(v)
    with pytest.raises(ValueError, match="vacuum floor"):
        store.changes(v1, v3)
    assert _as_dict(store.read(v3)) == pre
    assert _as_dict(store.read()) == pre
    # the store stays writable and the ledger arithmetic is intact
    v4 = store.commit_puts(
        spark.createDataFrame([(7, 7.0)], "k long, v double")
    )
    assert v4 == v3 + 1
    assert _as_dict(store.read(v4))[7] == 7.0


def test_vacuum_prune_manifest_drops_dead_entries_same_refusals(store, spark):
    """prune_manifest=True (r12 — the COW twin of the manifest-pointer
    ledger's checkpoint): dead entries leave the version log so a year
    of micro-batch commits doesn't become a 10^5-entry JSON parsed per
    read, while every behavior is unchanged — retained serves
    byte-identical, below-floor reads refuse with the SAME vacuum
    message (never 'unknown version'), the store stays writable, and a
    re-run is a no-op."""
    import json
    import os

    ups = spark.createDataFrame([(1, 100.0), (200, 1.5)], "k long, v double")
    v1 = store.commit_puts(ups)
    v2 = store.commit_deletes(spark.createDataFrame([(2,)], "k long"))
    v3 = store.compact()
    pre = _as_dict(store.read(v3))
    dead = store.vacuum(keep_versions=1, prune_manifest=True)
    assert dead == [0, v1, v2]
    with open(os.path.join(store.path, "meta.json")) as fh:
        m = json.load(fh)
    assert [e["v"] for e in m["versions"]] == [v3]
    for v in dead:
        with pytest.raises(ValueError, match="vacuum floor"):
            store.read(v)
    assert _as_dict(store.read(v3)) == pre
    assert _as_dict(store.read()) == pre
    # idempotent re-run, then the store keeps working and a later
    # vacuum+prune folds the next horizon
    assert store.vacuum(keep_versions=1, prune_manifest=True) == []
    v4 = store.commit_puts(
        spark.createDataFrame([(7, 7.0)], "k long, v double")
    )
    v5 = store.compact()
    assert store.vacuum(keep_versions=1, prune_manifest=True) == [v3, v4]
    with pytest.raises(ValueError, match="vacuum floor"):
        store.read(v3)
    assert _as_dict(store.read(v5))[7] == 7.0


def test_prune_manifest_keeps_tagged_replay_idempotent(store, spark):
    """r12 review finding: pruning dead entries must NOT drop the
    replay ledger — stream_ingest tags every micro-batch, and a
    redelivered batch whose log entry was pruned (checkpoint reset,
    at-least-once source) would otherwise re-apply as the NEWEST
    version: overwrite-merge would resurrect stale values over later
    updates. Pruned tags move to the replay ledger (``applied``), and
    a replay returns the vacuum floor, which read() serves."""
    ups = spark.createDataFrame([(1, 100.0)], "k long, v double")
    v1 = store.commit_puts(ups, tag="batch-0")
    v2 = store.commit_puts(
        spark.createDataFrame([(1, 777.0)], "k long, v double"),
        tag="batch-1",
    )
    v3 = store.compact()
    store.vacuum(keep_versions=1, prune_manifest=True)
    pre = _as_dict(store.read())
    assert pre[1] == 777.0
    # redeliver BOTH pruned batches: must be no-ops (the vacuum floor
    # comes back — the oldest servable version, which contains them),
    # never new commits
    replay_v = store.commit_puts(ups, tag="batch-0")
    assert replay_v == v3 and replay_v > v2 > v1
    assert _as_dict(store.read()) == pre, (
        "a replayed pruned batch re-applied — stale value resurrected"
    )
    assert _as_dict(store.read(v3)) == pre
    # a genuinely new tagged batch still commits normally
    v_new = store.commit_puts(
        spark.createDataFrame([(9, 9.0)], "k long, v double"),
        tag="batch-2",
    )
    assert v_new > v3 and _as_dict(store.read())[9] == 9.0


@pytest.mark.slow
@pytest.mark.parametrize(
    "stem", ["batch-", "0123456789ab-"], ids=["unscoped", "namespaced"]
)
def test_pruned_replay_ledger_is_bounded(store, spark, stem):
    """r12 ADVICE: the replay ledger must not grow one entry per pruned
    tagged commit FOREVER — a year of micro-batches would leave an
    O(commits) list parsed on every meta read. Stream tags — the
    un-namespaced 'batch-<id>' form and the checkpoint-namespaced one —
    must compact into one watermark across repeated prune cycles, while
    operator tags (human cadence) keep exact entries."""
    import json as _json
    import os as _os

    ups = lambda v: spark.createDataFrame([(1, v)], "k long, v double")  # noqa: E731
    op_v = store.commit_puts(ups(5.0), tag="initial-load")
    n_batches = 12
    batch_vs = {}
    for i in range(n_batches):
        batch_vs[i] = store.commit_puts(ups(float(i)), tag=f"{stem}{i}")
        if i % 4 == 3:
            store.compact()
            store.vacuum(keep_versions=1, prune_manifest=True)
    with open(_os.path.join(store.path, "meta.json")) as fh:
        m = _json.load(fh)
    # the replay ledger is O(1) for streaming: one watermark, and the
    # exact list holds only the operator tag — NOT one entry per batch
    assert set(m.get("applied", [])) == {"initial-load"}
    # the watermark is a per-checkpoint-namespace map
    wm = m["applied_watermarks"][stem]
    pruned_ids = [i for i in batch_vs if batch_vs[i] < m["vacuum_floor"]]
    assert int(wm) == max(pruned_ids)
    # every pruned batch id replays as a no-op through the watermark,
    # returning the vacuum floor
    pre = _as_dict(store.read())
    for i in pruned_ids:
        assert store.commit_puts(ups(-1.0), tag=f"{stem}{i}") == m["vacuum_floor"]
    # the pruned operator tag replays as a no-op too
    assert op_v < m["vacuum_floor"]
    assert store.commit_puts(ups(-1.0), tag="initial-load") == m["vacuum_floor"]
    assert _as_dict(store.read()) == pre


def test_vacuum_without_snapshot_at_horizon_is_a_safe_noop(store, spark):
    """vacuum never deletes a directory a retained read still folds:
    with only the v0 snapshot below the horizon, nothing is
    reclaimable and every version stays readable."""
    v1 = store.commit_puts(
        spark.createDataFrame([(1, 2.0)], "k long, v double")
    )
    v2 = store.commit_puts(
        spark.createDataFrame([(2, 3.0)], "k long, v double")
    )
    assert store.vacuum(keep_versions=2) == []
    assert _as_dict(store.read(0))[1] == 1.0
    assert _as_dict(store.read(v1))[1] == 2.0
    assert _as_dict(store.read(v2))[2] == 3.0


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(
    ops=st.lists(
        st.sampled_from(
            [
                "put",
                "put_replay",
                "batch_put",
                "delete",
                "compact",
                "vacuum_prune",
            ]
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_cow_lifecycle_model_with_pruning(spark, tmp_path_factory, ops):
    """Property over COW-store lifecycles (the versioned-IVF model's
    twin on the other ledger design): for ANY sequence of tagged puts,
    immediate at-least-once redeliveries, tagged deletes, compactions,
    and pruning vacuums, the live read equals a plain dict model
    (exactly-once commits, delete-wins), redelivery of ANY
    previously-committed tag — including tags whose log entries a
    prune dropped — is a no-op, and the version counter never reuses
    an id."""
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, v double"
    )
    idf = IndexedDataFrame.from_unique(base, "k", num_partitions=4, cache=False)
    root = tmp_path_factory.mktemp("cowmodel")
    s = VersionedKVStore.init(idf, str(root / "s"))
    model = {i: float(i) for i in range(50)}
    seen_tags: dict = {}  # tag -> (version, kind, payload)
    batch_tags: dict = {}  # stream_ingest-form tags (watermark path)
    n = 0
    last_v = 0
    for op in ops:
        n += 1
        if op in ("put", "put_replay", "batch_put"):
            # batch_put uses stream_ingest's monotonic tag form, whose
            # pruned-replay ledger is the O(1) watermark rather than
            # the exact tag list
            tag = f"batch-{n}" if op == "batch_put" else f"p{n}"
            df = spark.createDataFrame(
                [(n % 7, 1000.0 + n), (100 + n, float(n))],
                "k long, v double",
            )
            v = s.commit_puts(df, tag=tag)
            assert v > last_v
            last_v = v
            model[n % 7] = 1000.0 + n
            model[100 + n] = float(n)
            (batch_tags if op == "batch_put" else seen_tags)[tag] = v
            if op == "put_replay":
                assert s.commit_puts(df, tag=tag) == v  # immediate no-op
        elif op == "delete":
            tag = f"d{n}"
            k = n % 5
            v = s.commit_deletes(
                spark.createDataFrame([(k,)], "k long"), tag=tag
            )
            assert v > last_v
            last_v = v
            model.pop(k, None)
            seen_tags[tag] = v
        elif op == "compact":
            last_v = s.compact()
        elif op == "vacuum_prune":
            s.vacuum(keep_versions=1, prune_manifest=True)
        live = {r.k: r.v for r in s.read().df.collect()}
        assert live == model, (op, len(live), len(model))
    # EVERY tag ever committed — pruned or not — replays as a no-op
    # returning its original version while its entry is logged, the
    # vacuum floor once pruned, and the live table is unmoved
    listed = set(s.versions())
    floor = min(listed)
    for tag, v in seen_tags.items():
        df = spark.createDataFrame([(999, -1.0)], "k long, v double")
        want = v if v in listed else floor
        if tag.startswith("p"):
            assert s.commit_puts(df, tag=tag) == want
        else:
            assert s.commit_deletes(
                spark.createDataFrame([(999,)], "k long"), tag=tag
            ) == want
    # batch-form tags replay as no-ops too; once pruned they resolve
    # through the O(1) watermark, so the returned id is SOME
    # already-committed version (never a new commit), not necessarily
    # the original
    frontier = max(
        [last_v, *seen_tags.values(), *batch_tags.values()]
    )
    for tag in batch_tags:
        df = spark.createDataFrame([(999, -1.0)], "k long, v double")
        assert s.commit_puts(df, tag=tag) <= frontier
    live = {r.k: r.v for r in s.read().df.collect()}
    assert live == model and 999 not in live


# ------------- commit protocol: races, crashes, legacy stores ------------- #

from spark_indexedrdd_spark.functions.store_commit import (  # noqa: E402
    ConcurrentWriteConflict,
)
from spark_indexedrdd_spark.localframe import local_rows_df  # noqa: E402


def _kv(spark, rows):
    return local_rows_df(spark, rows, "k long, v double")


def _range_store(spark, path, n=10):
    base = spark.range(n).select("id", F.col("id").cast("double").alias("v"))
    idf = IndexedDataFrame.from_unique(
        base.withColumnRenamed("id", "k"), "k", num_partitions=2, cache=False
    )
    return VersionedKVStore.init(idf, path)


def _manifest_store(spark, path, ns, unscoped_max_id=3):
    """A store in the older on-disk format, written by hand: manifest.json,
    v<id>/ dirs, pruned_tags, a per-namespace pruned_batch_watermark and
    batch-<ns>-<id> entry tags. Versions 3..5; vacuum floor 3."""

    def write(df, d):
        df.write.parquet(os.path.join(path, d))

    write(spark.range(10).select(F.col("id").alias("k"),
                                 F.col("id").cast("double").alias("v")),
          "v3/snapshot")
    write(spark.range(2).select(F.col("id").alias("k"),
                                F.lit(100.0).alias("v")), "v4/puts")
    write(spark.range(5, 6).select(F.col("id").alias("k")), "v5/deletes")
    with open(os.path.join(path, "manifest.json"), "w") as fh:
        json.dump({
            "keys": ["k"], "value": "v", "num_partitions": 2,
            "vacuum_floor": 3,
            "versions": [
                {"v": 3, "kind": "snapshot"},
                {"v": 4, "kind": "puts", "merge": "sum",
                 "tag": f"batch-{ns}-7"},
                {"v": 5, "kind": "deletes", "tag": "op-del"},
            ],
            "pruned_tags": {"op-load": 1},
            "pruned_batch_watermark": {
                ns: {"max_id": 6, "v": 2},
                "": {"max_id": unscoped_max_id, "v": 1},
            },
        }, fh)


@pytest.mark.parametrize("case", ["commit", "manifest_commit", "init"])
def test_racing_writers_one_conflicts_none_lost(spark, tmp_path, case):
    """Two writers read the log before either publishes — two commits on
    one store, the first two commits on a manifest.json-format store, or
    two inits of one path: exactly one raises ConcurrentWriteConflict,
    the winner's rows read back, and no version id is listed twice."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "race")
    if case == "commit":
        _range_store(spark, path)
    elif case == "manifest_commit":
        _manifest_store(spark, path, "0123456789ab")
    if case == "init":
        pre, vs0, stores = {}, [], {}
    else:
        pre = _as_dict(VersionedKVStore.open(spark, path).read())
        vs0 = VersionedKVStore.open(spark, path).versions()
        stores = {n: VersionedKVStore.open(spark, path) for n in "ab"}
    # each commit reads the log, then writes its data: holding both data
    # writes at a barrier means both logs were read before either publish
    barrier = threading.Barrier(2, timeout=120)
    raw = DataFrameWriter.parquet

    def held(self, *args, **kw):
        barrier.wait()
        return raw(self, *args, **kw)

    rows = {"a": (1, 10.0), "b": (2, 20.0)}
    out = {}

    def commit(name):
        df = _kv(spark, [rows[name]])
        try:
            if case == "init":
                idf = IndexedDataFrame.from_unique(
                    df, "k", num_partitions=2, cache=False
                )
                out[name] = VersionedKVStore.init(idf, path).versions()[-1]
            else:
                out[name] = stores[name].commit_puts(df)
        except ConcurrentWriteConflict as e:
            out[name] = e

    DataFrameWriter.parquet = held
    try:
        ts = [threading.Thread(target=commit, args=(n,)) for n in "ab"]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
    finally:
        DataFrameWriter.parquet = raw
    lost = [n for n, r in out.items() if isinstance(r, ConcurrentWriteConflict)]
    assert len(lost) == 1, out
    won = "b" if lost == ["a"] else "a"
    v_won = vs0[-1] + 1 if vs0 else 0
    assert out[won] == v_won
    store = VersionedKVStore.open(spark, path)
    vs = store.versions()
    assert vs == sorted(set(vs)) == vs0 + [v_won]
    k, x = rows[won]
    assert _as_dict(store.read()) == {**pre, k: x}
    if case != "init":
        # the loser's retry lands on top of the winner
        assert stores[lost[0]].commit_puts(
            _kv(spark, [(3, 30.0)])
        ) == v_won + 1


def test_crash_before_publish_is_invisible_and_retry_commits(
    spark, tmp_path, monkeypatch
):
    """A crash after the data write and before the publish leaves no
    visible version, and an untagged retry commits."""
    path = str(tmp_path / "crash")
    store = _range_store(spark, path)
    raw = os.replace

    def crash(src, dst):
        if os.path.basename(dst) in ("meta.json", "manifest.json"):
            raise OSError("simulated crash before publish")
        return raw(src, dst)

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="simulated crash"):
        store.commit_puts(_kv(spark, [(1, 100.0)]))
    monkeypatch.setattr(os, "replace", raw)
    assert store.versions() == [0]
    assert _as_dict(store.read())[1] == 1.0
    v = store.commit_puts(_kv(spark, [(1, 100.0)]))
    assert v == 1 and store.versions() == [0, 1]
    assert _as_dict(store.read())[1] == 100.0


def test_pruned_replay_returns_a_servable_version(spark, tmp_path):
    """A replay of a tag whose log entry vacuum pruned returns the vacuum
    floor, which read() serves and which contains the commit."""
    store = _range_store(spark, str(tmp_path / "replay"))
    v1 = store.commit_puts(_kv(spark, [(1, 100.0)]), tag="load-1")
    store.commit_puts(_kv(spark, [(2, 200.0)]))
    v3 = store.compact()
    store.vacuum(keep_versions=1, prune_manifest=True)
    assert v1 not in store.versions()
    v = store.commit_puts(_kv(spark, [(1, -1.0)]), tag="load-1")
    assert v == v3
    assert _as_dict(store.read(v))[1] == 100.0
    assert store.versions() == [v3]


def test_vacuum_reclaims_attempt_dirs_and_ledger_files(
    spark, tmp_path, monkeypatch
):
    """After commit -> compact -> vacuum, the only data directories left
    are the ones live log entries name, the ledger keeps just its
    frontier file, and a writer whose base predates the reclaimed ledger
    files still conflicts."""
    path = str(tmp_path / "gc")
    store = _range_store(spark, path)
    stale = store._meta()
    raw = os.replace

    def crash(src, dst):
        if os.path.basename(dst) == "meta.json":
            raise OSError("simulated crash before publish")
        return raw(src, dst)

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError):
        store.commit_puts(_kv(spark, [(1, 5.0)]))  # leaves debris
    monkeypatch.setattr(os, "replace", raw)
    store.commit_puts(_kv(spark, [(1, 5.0)]))
    store.commit_deletes(spark.range(2, 4).withColumnRenamed("id", "k"))
    vc = store.compact()
    assert store.vacuum(keep_versions=1) == [0, 1, 2]
    data_dirs = sorted(
        d for d in os.listdir(path) if d.startswith("v")
    )
    named = json.load(open(os.path.join(path, "meta.json")))["versions"]
    assert data_dirs == [e["dir"] for e in named if e["v"] >= vc]
    ledger = [f for f in os.listdir(os.path.join(path, "_versions"))
              if f.endswith(".json")]
    assert len(ledger) == 1
    got = _as_dict(store.read())
    assert got[1] == 5.0 and 2 not in got and 3 not in got
    monkeypatch.setattr(VersionedKVStore, "_meta", lambda self: stale)
    with pytest.raises(ConcurrentWriteConflict):
        store.commit_puts(_kv(spark, [(9, 9.0)]))
    monkeypatch.undo()
    assert _as_dict(store.read()) == got


def test_store_in_manifest_format_keeps_working(spark, tmp_path):
    """A store in the older on-disk format (manifest.json, v<id>/ dirs,
    pruned_tags, a per-namespace pruned_batch_watermark and
    batch-<ns>-<id> entry tags) reads every version as before, replays
    its pruned and unpruned tags as no-ops — including stream
    redelivery across the upgrade — and publishes meta.json on its next
    commit, with a replay ledger that does not grow with the pruned
    batch ids."""
    path = str(tmp_path / "legacy")
    ns = "0123456789ab"
    _manifest_store(spark, path, ns, unscoped_max_id=10_000)
    store = VersionedKVStore.open(spark, path)
    base = {k: float(k) for k in range(10)}
    v4 = {**base, 0: 100.0, 1: 101.0}
    v5 = {k: x for k, x in v4.items() if k != 5}
    assert store.versions() == [3, 4, 5]
    assert (_as_dict(store.read(3)), _as_dict(store.read(4)),
            _as_dict(store.read())) == (base, v4, v5)
    with pytest.raises(ValueError, match="vacuum floor"):
        store.read(1)
    junk = _kv(spark, [(0, -1.0)])
    # unpruned tags return their own version, pruned ones the floor
    assert store.commit_puts(junk, tag=f"batch-{ns}-7") == 4
    assert store.commit_deletes(junk.select("k"), tag="op-del") == 5
    for tag in ("op-load", f"batch-{ns}-5", "batch-2"):
        assert store.commit_puts(junk, tag=tag) == 3
    # stream redelivery after the upgrade: a run with no checkpoint
    # namespace re-sends an un-namespaced id ...
    VersionedKVStore.open(spark, path).foreach_batch(junk, 9_999)
    # ... and a namespaced run keeps its checkpoint's query id
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(json.dumps({"id": ns + "0000"}))
    store._ckpt_dir = str(ckpt)
    for batch_id in (7, 6, 2):  # entry tag, ns watermark, "" watermark
        store.foreach_batch(junk, batch_id)
    assert store.versions() == [3, 4, 5]
    assert not os.path.exists(os.path.join(path, "meta.json"))
    assert _as_dict(store.read()) == v5
    # a new batch commits, publishing meta.json (past the un-namespaced
    # watermark, which the cross-upgrade guard checks for every id)
    store.foreach_batch(_kv(spark, [(8, 80.0)]), 10_001)
    assert store.versions() == [3, 4, 5, 6]
    meta = json.load(open(os.path.join(path, "meta.json")))
    assert meta["versions"][-1]["tag"] == f"{ns}-10001"
    assert meta["applied"] == ["op-load"]
    assert meta["applied_watermarks"] == {f"{ns}-": 6, "batch-": 10_000}
    assert _as_dict(store.read()) == {**v5, 8: 80.0}
    assert _as_dict(store.read(4)) == v4
    assert store.commit_puts(junk, tag=f"batch-{ns}-6") == 3


def test_unnamespaced_stream_batches_fold_into_one_watermark(spark, tmp_path):
    """foreach_batch without a readable checkpoint namespace tags its
    commits 'batch-<id>'; a pruning vacuum folds them into the single
    'batch-' watermark, and their redelivery stays a no-op."""
    store = _range_store(spark, str(tmp_path / "unscoped"))
    for bid in range(3):
        store.foreach_batch(_kv(spark, [(bid, 100.0 + bid)]), bid)
    assert [e.get("tag") for e in store._meta()["versions"]] == [
        None, "batch-0", "batch-1", "batch-2",
    ]
    floor = store.compact()
    store.vacuum(keep_versions=1, prune_manifest=True)
    m = store._meta()
    assert m.get("applied", []) == []
    assert m["applied_watermarks"] == {"batch-": 2}
    pre = _as_dict(store.read())
    store.foreach_batch(_kv(spark, [(1, -1.0)]), 1)
    assert store.versions() == [floor]
    assert _as_dict(store.read()) == pre
