"""The shared data-first/meta-last commit protocol
(functions/store_commit.py) across the multi-part ANN stores: a crash
mid-rebuild over an EXISTING committed store must leave it clearly
uncommitted (readers raise FileNotFoundError) — never a silent MIX of
old and new parts — and the idempotent re-run must recommit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_indexedrdd_spark.functions import store_commit as SC

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(SF_DIR + "/embeddings.parquet").limit(200)


def test_helper_roundtrip_and_retract(tmp_path):
    p = str(tmp_path / "m")
    with pytest.raises(FileNotFoundError):
        SC.read_meta(p)
    SC.commit_meta(p, {"a": 1})
    assert SC.read_meta(p) == {"a": 1, "version": 1, "rewrite_floor": 1}
    SC.retract_meta(p)
    with pytest.raises(FileNotFoundError):
        SC.read_meta(p)
    SC.retract_meta(p)  # idempotent on a fresh/retracted path


def _crash_rebuild(monkeypatch, write_fn, read_fn):
    """Shared scenario: committed build -> crash mid-rebuild -> reader
    must raise -> re-run recommits -> reader works."""
    write_fn()  # initial committed build
    read_fn()

    def boom(path, meta):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(SC, "commit_meta", boom)
    with pytest.raises(RuntimeError):
        write_fn()
    monkeypatch.undo()
    with pytest.raises(FileNotFoundError):
        read_fn()
    write_fn()  # idempotent re-run
    read_fn()


def test_ivf_store_rebuild_crash(spark, emb, tmp_path, monkeypatch):
    from spark_indexedrdd_spark.functions import ivf as IV

    p = str(tmp_path / "ivf")
    _crash_rebuild(
        monkeypatch,
        lambda: IV.write_ivf_store(emb, p, n_clusters=4, method="det"),
        lambda: IV.read_ivf_store(spark, p),
    )


def test_ivfpq_store_rebuild_crash(spark, emb, tmp_path, monkeypatch):
    from spark_indexedrdd_spark.functions import pq as PQ

    p = str(tmp_path / "ivfpq")
    _crash_rebuild(
        monkeypatch,
        lambda: PQ.write_ivfpq_store(
            emb, p, n_clusters=4, m=4, ksub=8, method="det"
        ),
        lambda: PQ.read_ivfpq_store(spark, p),
    )


def test_binary_store_rebuild_crash(spark, emb, tmp_path, monkeypatch):
    from spark_indexedrdd_spark.functions import quant as Q

    p = str(tmp_path / "bin")
    qv = [(0, [1.0] * 64)]
    _crash_rebuild(
        monkeypatch,
        lambda: Q.write_binary_store(emb, p),
        lambda: Q.binary_store_ann(spark, p, qv, k=2).collect(),
    )


def test_failed_fit_does_not_brick_committed_store(spark, emb, tmp_path):
    """retract happens only after the non-destructive fit: a rebuild
    whose centroid fit raises leaves the committed store readable."""
    from spark_indexedrdd_spark.functions import ivf as IV

    p = str(tmp_path / "ivf_fit")
    IV.write_ivf_store(emb, p, n_clusters=4, method="det")
    with pytest.raises(ValueError):
        IV.write_ivf_store(emb, p, n_clusters=4, method="no-such-method")
    vecs, cents = IV.read_ivf_store(spark, p)  # still committed
    assert vecs.count() == 200 and len(cents) == 4


def test_ivfpq_serve_defaults_n_probe_from_meta(spark, emb, tmp_path):
    """The build's n_probe is recorded so serving agrees with it: with
    no explicit argument the serve path reads it from the meta."""
    from spark_indexedrdd_spark.functions import pq as PQ

    p = str(tmp_path / "ivfpq_np")
    PQ.write_ivfpq_store(
        emb, p, n_clusters=4, n_probe=1, m=4, ksub=8, method="det"
    )
    qv = [(0, [1.0] * 64)]
    from_meta = PQ.ivfpq_store_ann(spark, p, qv, k=3).collect()
    explicit = PQ.ivfpq_store_ann(spark, p, qv, k=3, n_probe=1).collect()
    assert sorted(map(tuple, from_meta)) == sorted(map(tuple, explicit))


def test_classifier_model_rebuild_crash(spark, tmp_path, monkeypatch):
    from spark_indexedrdd_spark.functions import classifier as C

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").limit(100)
    p = str(tmp_path / "clf")
    _crash_rebuild(
        monkeypatch,
        lambda: C.train_and_write_classifier(
            docs, F.col("text").contains("spark"), p, n_buckets=32, iters=1
        ),
        lambda: C.read_classifier_model(spark, p),
    )


# ----------------- versioned OCC commit + time travel ----------------- #


def test_versioned_commit_detects_concurrent_writer(tmp_path):
    """Two writers read the same meta; the second commit must raise
    ConcurrentWriteConflict and leave the winner's commit standing —
    the accidental-concurrent-writer case fails loudly instead of
    silently losing one writer's meta deltas."""
    p = str(tmp_path / "occ")
    SC.commit_meta(p, {"a": 1})
    assert SC.read_meta(p)["version"] == 1
    m1 = SC.read_meta(p)
    m2 = SC.read_meta(p)
    m1["a"] = 2
    SC.commit_meta(p, m1)
    m2["a"] = 3
    with pytest.raises(SC.ConcurrentWriteConflict):
        SC.commit_meta(p, m2)
    assert SC.read_meta(p)["a"] == 2
    assert SC.read_meta(p)["version"] == 2
    assert SC.list_versions(p) == [1, 2]


def test_live_writers_serialize_under_the_commit_lock(tmp_path):
    """r12 VERDICT item 8: two LIVE writers racing the same base could
    interleave through the dead-reservation reclaim (the loser saw the
    winner's not-yet-published reservation, judged it dead by the
    frontier check, and overwrote it). The reserve→publish critical
    section now runs under an exclusive flock, so of N writers sharing
    one base exactly ONE commits per version, every loser raises
    ConcurrentWriteConflict, and the ledger has no gaps or torn
    files — regardless of interleaving."""
    import json
    import os
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "race")
    SC.commit_meta(p, {"payload": "base"})  # frontier = 1

    # every writer snapshots the SAME base before any of them commits
    metas = [SC.read_meta(p) for _ in range(8)]
    for i, m in enumerate(metas):
        m["payload"] = f"writer-{i}"

    def attempt(m):
        try:
            SC.commit_meta(p, m)
            return ("ok", m["version"], m["payload"])
        except SC.ConcurrentWriteConflict:
            return ("conflict", None, None)

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(attempt, metas))
    oks = [r for r in results if r[0] == "ok"]
    assert len(oks) == 1, f"interleaved commits: {oks}"
    assert sum(1 for r in results if r[0] == "conflict") == 7
    # the winner's payload is what both the frontier AND its ledger
    # file hold — no torn winner-meta/loser-ledger mix
    final = SC.read_meta(p)
    assert final["version"] == 2 and final["payload"] == oks[0][2]
    vdir = os.path.join(p, "_versions")
    with open(os.path.join(vdir, f"{2:020d}.json")) as fh:
        assert json.load(fh)["payload"] == oks[0][2]
    assert SC.list_versions(p) == [1, 2]
    # the store stays writable afterwards (the lock was released)
    nxt = SC.read_meta(p)
    SC.commit_meta(p, nxt)
    assert SC.read_meta(p)["version"] == 3


def test_crashed_reservation_is_reclaimed(tmp_path):
    """A version file above the committed frontier is a crashed
    writer's dead reservation — the next commit reclaims the number
    instead of treating it as a concurrent commit."""
    import json
    import os

    p = str(tmp_path / "dead")
    SC.commit_meta(p, {"a": 1})  # frontier = 1
    vdir = os.path.join(p, "_versions")
    with open(os.path.join(vdir, f"{2:020d}.json"), "w") as fh:
        json.dump({"a": "crashed-writer"}, fh)
    m = SC.read_meta(p)
    m["a"] = 2
    SC.commit_meta(p, m)  # reclaims v2
    assert SC.read_meta(p) == {"a": 2, "version": 2, "rewrite_floor": 1}
    assert SC.read_meta_version(p, 2)["a"] == 2


def test_same_holder_recommit_advances(tmp_path):
    """commit_meta stamps the version into the caller's dict, so a
    sequential re-commit by the same holder advances instead of
    conflicting with itself."""
    p = str(tmp_path / "seq")
    m = {"a": 1}
    SC.commit_meta(p, m)
    m["a"] = 2
    SC.commit_meta(p, m)
    assert SC.read_meta(p) == {"a": 2, "version": 2, "rewrite_floor": 1}


def test_rebuild_over_versioned_history_advances(tmp_path):
    """retract + fresh-dict commit (the rebuild flow) must advance past
    the ledger, never collide with its own history."""
    p = str(tmp_path / "rb")
    SC.commit_meta(p, {"a": 1})
    SC.commit_meta(p, SC.read_meta(p))
    SC.retract_meta(p)
    SC.commit_meta(p, {"b": 9})  # fresh dict, no version key
    assert SC.read_meta(p)["version"] == 3
    assert SC.read_meta_version(p, 3)["b"] == 9


def test_read_meta_version_rejects_out_of_range(tmp_path):
    p = str(tmp_path / "rng")
    SC.commit_meta(p, {"a": 1})
    with pytest.raises(ValueError, match="committed range"):
        SC.read_meta_version(p, 0)
    with pytest.raises(ValueError, match="committed range"):
        SC.read_meta_version(p, 2)


def test_postings_time_travel_serves_snapshot(spark, tmp_path):
    """bm25_from_store(version=v) serves the store AS OF an earlier
    commit: the pre-append snapshot scores equal the in-plan BM25 over
    the pre-append corpus, and the pre-takedown snapshot still sees
    the docs a later takedown tombstoned."""
    from spark_indexedrdd_spark.functions import retrieval as R

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "tt")
    R.write_postings_store(docs.where("doc_id % 2 = 0"), p)
    v_half = SC.read_meta(p)["version"]
    assert R.append_postings_batch(
        docs.where("doc_id % 2 = 1"), p, batch_tag="tt-b1"
    )
    v_full = SC.read_meta(p)["version"]
    assert R.delete_postings_docs(
        spark, p, docs.where("doc_id % 5 = 0").select("doc_id"), "tt-d1"
    )
    half = sorted(
        map(tuple, R.bm25_from_store(spark, p, version=v_half).collect())
    )
    want_half = sorted(
        map(tuple, R.bm25_topk(docs.where("doc_id % 2 = 0")).collect())
    )
    assert half == want_half and len(half) > 0
    full = sorted(
        map(tuple, R.bm25_from_store(spark, p, version=v_full).collect())
    )
    assert full == sorted(map(tuple, R.bm25_topk(docs).collect()))
    latest = sorted(map(tuple, R.bm25_from_store(spark, p).collect()))
    assert latest == sorted(
        map(tuple, R.bm25_topk(docs.where("doc_id % 5 != 0")).collect())
    )
    assert SC.list_versions(p) == [v_half, v_full, v_full + 1]


def test_append_conflict_then_retry_is_exact(spark, tmp_path):
    """A writer whose meta snapshot went stale (another commit landed
    in between) must fail loudly, and the documented recovery — re-run
    the same tagged operation — must land exactly."""
    from spark_indexedrdd_spark.functions import retrieval as R

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "race")
    R.write_postings_store(docs.where("doc_id % 2 = 0"), p)
    stale = SC.read_meta(p)
    # another writer lands a takedown first
    assert R.delete_postings_docs(
        spark, p, docs.where("doc_id % 10 = 0").select("doc_id"), "race-d"
    )
    stale["n_docs"] = 0  # the stale writer's doomed edit
    with pytest.raises(SC.ConcurrentWriteConflict):
        SC.commit_meta(p, stale)
    # retrying the REAL operation against current state lands exactly
    assert R.append_postings_batch(
        docs.where("doc_id % 2 = 1"), p, batch_tag="race-b1"
    )
    got = sorted(map(tuple, R.bm25_from_store(spark, p).collect()))
    want = sorted(
        map(tuple, R.bm25_topk(docs.where("doc_id % 10 != 0")).collect())
    )
    assert got == want and len(got) > 0


def test_zonemap_and_bloom_as_of_reads(spark, tmp_path):
    """zonemap_read/bloom_multiget(version=v) serve the store AS OF an
    earlier commit: the later appended batch is invisible to the
    snapshot, visible to the latest read."""
    from spark_indexedrdd_spark.sources.bloomindex import (
        append_bloom_batch,
        bloom_multiget,
        write_bloom_table,
    )
    from spark_indexedrdd_spark.sources.zonemap import (
        append_zonemap_batch,
        write_zonemap_table,
        zonemap_read,
    )

    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    base = li.where("l_orderkey % 3 != 0")
    batch = li.where("l_orderkey % 3 = 0")
    zp = str(tmp_path / "zm")
    write_zonemap_table(base, zp, "l_shipdate", n_files=4)
    v = SC.read_meta(zp)["version"]
    assert append_zonemap_batch(batch, zp, batch_tag="b1", n_files=2)
    assert zonemap_read(spark, zp, version=v).count() == base.count()
    assert zonemap_read(spark, zp).count() == li.count()
    bp = str(tmp_path / "bl")
    write_bloom_table(base, bp, "l_partkey", n_files=4)
    vb = SC.read_meta(bp)["version"]
    assert append_bloom_batch(batch, bp, batch_tag="b1", n_files=2)
    keys = [r.l_partkey for r in li.select("l_partkey").distinct().limit(8).collect()]
    snap = bloom_multiget(spark, bp, keys, version=vb).count()
    live = bloom_multiget(spark, bp, keys).count()
    assert snap == base.where(F.col("l_partkey").isin(keys)).count()
    assert live == li.where(F.col("l_partkey").isin(keys)).count()


def test_ivf_as_of_read_freezes_tombstones(spark, emb, tmp_path):
    """ivf_ann_from_store(version=v) with v = the pre-takedown commit
    still sees the vectors a later delete tombstoned."""
    from spark_indexedrdd_spark.functions.ivf import (
        delete_ivf_ids,
        ivf_ann_from_store,
        write_ivf_store,
    )

    p = str(tmp_path / "ivf_tt")
    write_ivf_store(emb, p, n_clusters=4, method="det")
    v = SC.read_meta(p)["version"]
    pre = sorted(map(tuple, ivf_ann_from_store(spark, p, [50], k=5).collect()))
    dead = [r[1] for r in pre[:2]]  # tombstone two of the neighbors
    assert delete_ivf_ids(spark, p, dead, "tt-d1")
    snap = sorted(
        map(tuple, ivf_ann_from_store(spark, p, [50], k=5, version=v).collect())
    )
    assert snap == pre
    live = {r[1] for r in ivf_ann_from_store(spark, p, [50], k=5).collect()}
    assert not (live & set(dead))


def test_postings_changes_cdc(spark, tmp_path):
    """postings_changes is the O(delta) net live-set diff between two
    ledger versions: same-version is empty, delete-only intervals
    report only deletes, add-then-delete nets out, and an interval
    crossed by a compaction raises (ledgers reset)."""
    from spark_indexedrdd_spark.functions import retrieval as R

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "cdc")
    R.write_postings_store(docs.where("doc_id % 2 = 0"), p)
    v1 = SC.read_meta(p)["version"]
    assert R.postings_changes(spark, p, v1, v1).count() == 0
    R.append_postings_batch(docs.where("doc_id % 2 = 1"), p, batch_tag="b1")
    v2 = SC.read_meta(p)["version"]
    R.delete_postings_docs(
        spark, p, docs.where("doc_id % 5 = 0").select("doc_id"), "d1"
    )
    v3 = SC.read_meta(p)["version"]
    got = sorted(
        (r.doc_id, r.change)
        for r in R.postings_changes(spark, p, v1, v3).collect()
    )
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    want = sorted(
        [(i, "added") for i in ids if i % 2 == 1 and i % 5 != 0]
        + [(i, "deleted") for i in ids if i % 2 == 0 and i % 5 == 0]
    )
    assert got == want and len(got) > 0
    # delete-only interval
    d_only = R.postings_changes(spark, p, v2, v3)
    assert {r.change for r in d_only.collect()} == {"deleted"}
    assert d_only.count() == sum(1 for i in ids if i % 5 == 0)
    with pytest.raises(ValueError, match="v_from"):
        R.postings_changes(spark, p, v3, v1)
    # compaction resets the ledgers: the crossed interval must refuse
    R.compact_postings_store(spark, p)
    v4 = SC.read_meta(p)["version"]
    with pytest.raises(ValueError, match="not comparable"):
        R.postings_changes(spark, p, v1, v4)


def test_occ_interleaved_writers_property(tmp_path):
    """Property over interleaved read/commit schedules of 3 simulated
    writers: a commit succeeds iff the writer's snapshot is the current
    frontier; every success advances the frontier by exactly 1; the
    ledger ends complete and monotone (1..frontier, one file per
    version); and the final meta is the last successful commit's."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        schedule=st.lists(
            st.tuples(st.integers(0, 2), st.sampled_from(["read", "commit"])),
            min_size=1,
            max_size=24,
        )
    )
    def run(schedule):
        import json
        import os
        import shutil
        import uuid

        p = str(tmp_path / f"occ-{uuid.uuid4().hex}")
        SC.commit_meta(p, {"writer": "init"})
        snaps: dict = {}
        frontier = 1
        last_winner = "init"
        for wid, op in schedule:
            if op == "read":
                snaps[wid] = SC.read_meta(p)
            elif wid in snaps:
                m = snaps.pop(wid)
                m["writer"] = f"w{wid}"
                stale = m["version"] != frontier
                if stale:
                    with pytest.raises(SC.ConcurrentWriteConflict):
                        SC.commit_meta(p, m)
                else:
                    SC.commit_meta(p, m)
                    frontier += 1
                    last_winner = f"w{wid}"
        final = SC.read_meta(p)
        assert final["version"] == frontier
        assert final["writer"] == last_winner
        assert SC.list_versions(p) == list(range(1, frontier + 1))
        vdir = os.path.join(p, "_versions")
        for v in range(1, frontier + 1):
            with open(os.path.join(vdir, f"{v:020d}.json")) as fh:
                assert json.load(fh)["version"] == v
        shutil.rmtree(p, ignore_errors=True)

    run()


def test_compaction_aborts_before_swap_on_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """A writer that commits between compaction's meta snapshot and its
    destructive swap must abort the compaction BEFORE the swap: the
    store stays committed and serving, and the retry (no racer)
    compacts cleanly."""
    from spark_indexedrdd_spark.functions import retrieval as R

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "race_compact")
    R.write_postings_store(docs, p)
    R.delete_postings_docs(
        spark, p, docs.where("doc_id % 5 = 0").select("doc_id"), "d1"
    )
    real = R._resolve_doclen

    def hijack(spark_, path_, meta_):
        out = real(spark_, path_, meta_)
        racer = SC.read_meta(p)
        racer["note"] = "racer"
        SC.commit_meta(p, racer)  # lands after compaction's snapshot
        return out

    monkeypatch.setattr(R, "_resolve_doclen", hijack)
    with pytest.raises(SC.ConcurrentWriteConflict):
        R.compact_postings_store(spark, p)
    monkeypatch.undo()
    want = sorted(map(tuple, R.bm25_from_store(spark, p).collect()))
    assert len(want) > 0  # still committed and serving
    R.compact_postings_store(spark, p)  # retry lands
    assert sorted(map(tuple, R.bm25_from_store(spark, p).collect())) == want


def test_zonemap_compaction_advances_ledger_preserving_history(spark, tmp_path):
    """Compaction commits on the STORE's ledger (never the sibling
    build's version 1): the frontier advances past the pre-compaction
    history and earlier version metas stay readable."""
    from spark_indexedrdd_spark.sources.zonemap import (
        append_zonemap_batch,
        compact_zonemap_store,
        write_zonemap_table,
        zonemap_read,
    )

    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    p = str(tmp_path / "zm_ledger")
    write_zonemap_table(li.where("l_orderkey % 3 != 0"), p, "l_shipdate", n_files=4)
    append_zonemap_batch(
        li.where("l_orderkey % 3 = 0"), p, batch_tag="b1", n_files=2
    )
    pre = SC.read_meta(p)
    assert pre["version"] == 2
    compact_zonemap_store(spark, p)
    post = SC.read_meta(p)
    assert post["version"] == 3
    assert SC.read_meta_version(p, 2)["manifests"] == pre["manifests"]
    assert zonemap_read(spark, p).count() == li.count()


def test_snapshot_serve_refused_after_compaction(spark, tmp_path):
    """A compaction rewrites the data dirs, so pre-compaction snapshots
    must REFUSE to serve (a snapshot naming only 'base' would resolve
    the NEW base manifest — rewritten rows under old stats, silently
    wrong). Meta history stays readable; post-compaction snapshots
    serve."""
    from spark_indexedrdd_spark.functions import retrieval as R
    from spark_indexedrdd_spark.sources.zonemap import (
        append_zonemap_batch,
        compact_zonemap_store,
        write_zonemap_table,
        zonemap_read,
    )

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "floor")
    R.write_postings_store(docs.where("doc_id % 2 = 0"), p)
    v1 = SC.read_meta(p)["version"]
    R.append_postings_batch(docs.where("doc_id % 2 = 1"), p, batch_tag="b1")
    v2 = SC.read_meta(p)["version"]
    R.delete_postings_docs(
        spark, p, docs.where("doc_id % 5 = 0").select("doc_id"), "d1"
    )
    R.compact_postings_store(spark, p)
    v4 = SC.read_meta(p)["version"]
    assert SC.read_meta(p)["rewrite_floor"] == v4
    for v in (v1, v2):
        with pytest.raises(ValueError, match="predates the last rewrite"):
            R.bm25_from_store(spark, p, version=v)
        with pytest.raises(ValueError, match="predates the last rewrite"):
            R.postings_changes(spark, p, v1, v)
    assert SC.read_meta_version(p, v1)["n_docs"] > 0  # history readable
    # the post-compaction frontier serves
    assert R.bm25_from_store(spark, p, version=v4).count() > 0
    # same refusal on the zonemap store
    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    z = str(tmp_path / "zfloor")
    write_zonemap_table(li.where("l_orderkey % 3 != 0"), z, "l_shipdate", n_files=4)
    zv1 = SC.read_meta(z)["version"]
    append_zonemap_batch(li.where("l_orderkey % 3 = 0"), z, batch_tag="b1", n_files=2)
    compact_zonemap_store(spark, z)
    with pytest.raises(ValueError, match="predates the last rewrite"):
        zonemap_read(spark, z, version=zv1)


def test_conflict_leaves_loser_dict_unstamped(tmp_path):
    """The loser's meta dict must stay at its snapshot version after a
    ConcurrentWriteConflict — stamping before the reservation would let
    a caught-and-retried commit_meta land the stale deltas on top of
    the winner with no error."""
    p = str(tmp_path / "unstamped")
    SC.commit_meta(p, {"a": 1})
    m1 = SC.read_meta(p)
    m2 = SC.read_meta(p)
    m1["a"] = 2
    SC.commit_meta(p, m1)
    m2["a"] = 3
    for _ in range(2):  # naive retry must ALSO conflict
        with pytest.raises(SC.ConcurrentWriteConflict):
            SC.commit_meta(p, m2)
        assert m2["version"] == 1
    assert SC.read_meta(p)["a"] == 2


def test_stale_base_conflicts_after_ledger_files_are_reclaimed(tmp_path):
    """Vacuums delete ledger files below the committed frontier; a
    writer whose base is that old must still conflict, not take the
    freed slot and publish over the winner. Reclaimed both by hand and
    end to end by ``vacuum_store(prune_ledger=True)`` on a
    manifest-pointer store (an empty ``postings/`` root)."""
    import os

    for reclaim in ("os_remove", "vacuum_store"):
        p = str(tmp_path / reclaim)
        os.makedirs(os.path.join(p, "postings"))
        SC.commit_meta(p, {"a": 1, "manifests": []})
        stale = SC.read_meta(p)
        for a in (2, 3):
            m = SC.read_meta(p)
            m["a"] = a
            SC.commit_meta(p, m)
        vdir = os.path.join(p, "_versions")
        if reclaim == "os_remove":
            for v in (1, 2):
                os.remove(os.path.join(vdir, f"{v:020d}.json"))
        else:
            out = SC.vacuum_store(p, keep_versions=1, prune_ledger=True)
            assert out["floor"] == 3 and out["pruned_ledger"] == [1, 2], out
        assert not any(
            os.path.exists(os.path.join(vdir, f"{v:020d}.json")) for v in (1, 2)
        ), reclaim
        before = SC.read_meta(p)
        stale["a"] = 99
        with pytest.raises(SC.ConcurrentWriteConflict):
            SC.commit_meta(p, stale)
        assert SC.read_meta(p) == before and before["a"] == 3, reclaim


def test_rebuild_reclaims_dead_reservation(tmp_path):
    """A crashed writer's reservation above the frontier must be
    RECLAIMED by a rebuild, not skipped — skipping would leave a
    never-committed blob below the new frontier, which
    read_meta_version would misreport as a commit."""
    import json
    import os

    p = str(tmp_path / "reclaim")
    SC.commit_meta(p, {"a": 1})  # frontier 1
    with open(os.path.join(p, "_versions", f"{2:020d}.json"), "w") as fh:
        json.dump({"ghost": True}, fh)
    SC.retract_meta(p)  # rebuild begins; frontier marker = 1
    SC.commit_meta(p, {"b": 2})  # fresh dict
    assert SC.read_meta(p)["version"] == 2  # reclaimed, not skipped to 3
    assert SC.read_meta_version(p, 2)["b"] == 2


@pytest.mark.parametrize("family", ["postings", "zonemap"])
def test_compactor_loses_race_in_retract_window(
    spark, tmp_path, monkeypatch, family
):
    """A writer committing in the window between the compactor's
    recheck and its retract must make the compactor's FINAL commit
    conflict — not silently reclaim the winner's reservation (the
    retract deletes the winner's meta.json, so the conflict check must
    consult the frontier marker, and the zonemap compactor must carry
    its snapshot version rather than committing 'fresh')."""
    from spark_indexedrdd_spark.functions import retrieval as R
    from spark_indexedrdd_spark.sources import zonemap as Z

    if family == "postings":
        docs = spark.read.parquet(SF_DIR + "/documents.parquet")
        p = str(tmp_path / "pr")
        R.write_postings_store(docs, p)
        R.delete_postings_docs(
            spark, p, docs.where("doc_id % 5 = 0").select("doc_id"), "d1"
        )
        run = lambda: R.compact_postings_store(spark, p)
    else:
        li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
        p = str(tmp_path / "zr")
        Z.write_zonemap_table(li.where("l_orderkey % 3 != 0"), p,
                              "l_shipdate", n_files=4)
        Z.append_zonemap_batch(li.where("l_orderkey % 3 = 0"), p,
                               batch_tag="b1", n_files=2)
        run = lambda: Z.compact_zonemap_store(spark, p)

    real = SC.recheck_version

    def racer_after_recheck(path_, meta_):
        real(path_, meta_)
        racer = SC.read_meta(p)
        racer["note"] = "racer"
        SC.commit_meta(p, racer)  # wins inside the recheck->retract window

    monkeypatch.setattr(SC, "recheck_version", racer_after_recheck)
    with pytest.raises(SC.ConcurrentWriteConflict):
        run()
    # the store is loudly uncommitted (documented manual recovery) —
    # never a silent overwrite of the winner's commit
    with pytest.raises(FileNotFoundError):
        SC.read_meta(p)


def test_vacuum_store_advances_floor_and_gcs_debris(spark, tmp_path):
    """vacuum_store on the postings ledger (r10 VERDICT item 3):
    advances the servability floor to the newest keep_versions, after
    which as-of reads below it refuse loudly while floor-and-newer
    serves are byte-identical; crash debris — published files and
    manifests no retained version references — is deleted."""
    import os
    import shutil

    from spark_indexedrdd_spark.functions import retrieval as R

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "vac_postings")
    R.write_postings_store(docs.where("doc_id % 2 = 0"), p, n_buckets=8)
    v1 = SC.read_meta(p)["version"]
    R.append_postings_batch(docs.where("doc_id % 2 = 1"), p, batch_tag="b1")
    v2 = SC.read_meta(p)["version"]
    pre_live = sorted(map(tuple, R.bm25_from_store(spark, p).collect()))
    pre_v2 = sorted(
        map(tuple, R.bm25_from_store(spark, p, version=v2).collect())
    )
    # crash debris: a published-but-never-committed data file + manifest
    bdir = next(
        d
        for d in sorted(os.listdir(os.path.join(p, "postings")))
        if d.startswith("bucket=")
    )
    src = next(
        f
        for f in sorted(os.listdir(os.path.join(p, "postings", bdir)))
        if f.endswith(".parquet")
    )
    debris = os.path.join(p, "postings", bdir, "batch-crashed-00000.parquet")
    shutil.copyfile(os.path.join(p, "postings", bdir, src), debris)
    SC.write_manifest(p, "crashed", [f"{bdir}/batch-crashed-00000.parquet"])

    out = SC.vacuum_store(p, keep_versions=1)
    assert out["floor"] == v2
    assert f"postings/{bdir}/batch-crashed-00000.parquet" in out["removed_files"]
    assert "crashed" in out["removed_manifests"]
    assert not os.path.exists(debris)
    with pytest.raises(ValueError, match="floor"):
        R.bm25_from_store(spark, p, version=v1)
    assert (
        sorted(map(tuple, R.bm25_from_store(spark, p, version=v2).collect()))
        == pre_v2
    )
    assert sorted(map(tuple, R.bm25_from_store(spark, p).collect())) == pre_live
    # idempotent re-run: nothing left to reclaim, floor unchanged
    again = SC.vacuum_store(p, keep_versions=1)
    assert again["removed_files"] == [] and again["removed_manifests"] == []


def test_prune_folds_stragglers_a_rewrite_floor_advance_orphaned(
    spark, tmp_path
):
    """r14 regression: a compaction's rewrite=True commit advances the
    floor WITHOUT pruning, and the r12 no-failed-opens rule then made
    the next prune skip those below-floor file-backed versions
    entirely — never folded, never unlinked, one immortal ledger file
    per compaction under a compact+vacuum composition. The prune must
    sweep exactly the stragglers (versions above the existing
    checkpoint's `through`, below the new floor) into the checkpoint."""
    import os

    from spark_indexedrdd_spark.functions import retrieval as R

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "straggler")
    R.write_postings_store(docs.where("doc_id % 4 = 0"), p, n_buckets=8)
    for i, pred in enumerate(
        ("doc_id % 4 = 1", "doc_id % 4 = 2", "doc_id % 4 = 3")
    ):
        R.append_postings_batch(docs.where(pred), p, batch_tag=f"s{i}")
    R.delete_postings_docs(
        spark, p, docs.where("doc_id % 5 = 0").select("doc_id"),
        batch_tag="s-del",
    )
    pre_versions = SC.list_versions(p)
    # the rewrite-class op advances the floor past every prior commit
    # WITHOUT folding their ledger files
    R.compact_postings_store(spark, p)
    floor = int(SC.read_meta(p).get("rewrite_floor", 0))
    assert floor > pre_versions[-1]
    out = SC.vacuum_store(p, keep_versions=1, prune_ledger=True)
    # every pre-compaction version folded — none survive as files
    assert set(out["pruned_ledger"]) >= set(pre_versions), out
    vdir = os.path.join(p, "_versions")
    on_disk = sorted(
        int(f[:-5]) for f in os.listdir(vdir) if f[:-5].isdigit()
    )
    assert min(on_disk) >= floor, (
        f"orphaned below-floor ledger files survived the prune: "
        f"{[v for v in on_disk if v < floor]}"
    )
    # folded metas stay audit-readable through the checkpoint
    assert int(
        SC.read_meta_version(p, pre_versions[0])["version"]
    ) == pre_versions[0]
    # and a second pass is a no-op, not a re-fold
    again = SC.vacuum_store(p, keep_versions=1, prune_ledger=True)
    assert again["pruned_ledger"] == []


def test_vacuum_prune_ledger_checkpoints_below_the_floor(spark, tmp_path):
    """prune_ledger=True folds every below-floor _versions/<v>.json
    into ONE checkpoint JSON (Delta log checkpointing) — without it a
    year of micro-batch commits is ~10^5 tiny files listed on every
    ledger read (r11 VERDICT item 5). Semantics must not move:
    list_versions reports the same range, read_meta_version still
    reads folded metas (audit), above-floor as-of serves are
    byte-identical, below-floor serves refuse with the SAME
    rewrite-floor message."""
    import os

    from spark_indexedrdd_spark.functions import retrieval as R

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "vac_prune")
    R.write_postings_store(docs.where("doc_id % 4 = 0"), p, n_buckets=8)
    for i, pred in enumerate(
        ("doc_id % 4 = 1", "doc_id % 4 = 2", "doc_id % 4 = 3")
    ):
        R.append_postings_batch(docs.where(pred), p, batch_tag=f"b{i}")
    pre_versions = SC.list_versions(p)
    assert len(pre_versions) == 4
    v_old, v_keep = pre_versions[0], pre_versions[-2]
    pre_old_meta = SC.read_meta_version(p, v_old)
    pre_keep = sorted(
        map(tuple, R.bm25_from_store(spark, p, version=v_keep).collect())
    )
    pre_live = sorted(map(tuple, R.bm25_from_store(spark, p).collect()))

    out = SC.vacuum_store(p, keep_versions=2, prune_ledger=True)
    assert out["floor"] == v_keep
    assert out["pruned_ledger"] == [v for v in pre_versions if v < v_keep]
    vdir = os.path.join(p, "_versions")
    on_disk = sorted(
        int(f[:-5]) for f in os.listdir(vdir) if f[:-5].isdigit()
    )
    assert min(on_disk) >= v_keep, "a below-floor ledger file survived"
    # the checkpoint is SPLIT: tiny version index (what enumeration
    # parses) + big meta bodies (audit only) — the one-file form made
    # list_versions O(total folded meta bytes) per call
    assert os.path.exists(os.path.join(vdir, "_checkpoint.json"))
    assert os.path.exists(os.path.join(vdir, "_checkpoint_metas.json"))
    import json as _json

    with open(os.path.join(vdir, "_checkpoint.json")) as fh:
        idx = _json.load(fh)
    assert "metas" not in idx, "meta bodies leaked into the index file"
    assert idx["versions"] == out["pruned_ledger"]
    # the audit surface is unchanged: full range listed, folded metas
    # readable and identical (vacuum adds its own bookkeeping commit)
    assert set(pre_versions) <= set(SC.list_versions(p))
    assert SC.read_meta_version(p, v_old) == pre_old_meta
    # serves: above-floor byte-identical, below-floor same refusal
    assert (
        sorted(map(tuple, R.bm25_from_store(spark, p, version=v_keep).collect()))
        == pre_keep
    )
    assert sorted(map(tuple, R.bm25_from_store(spark, p).collect())) == pre_live
    with pytest.raises(ValueError, match="predates the last rewrite"):
        R.bm25_from_store(spark, p, version=v_old)
    # idempotent re-run THROUGH the checkpoint (the metas loop must
    # resolve folded versions), and a later prune merges, not replaces
    again = SC.vacuum_store(p, keep_versions=2, prune_ledger=True)
    assert again["pruned_ledger"] == [] and again["floor"] == v_keep
    R.append_postings_batch(docs.where("doc_id % 97 = 0"), p, batch_tag="b9")
    out3 = SC.vacuum_store(p, keep_versions=1, prune_ledger=True)
    assert out3["floor"] > v_keep and v_keep in out3["pruned_ledger"]
    assert SC.read_meta_version(p, v_old) == pre_old_meta  # still folded


def test_vacuum_data_gc_skip_is_visible(spark, tmp_path):
    """A bare vacuum_store(path) on a flat sidecar store skips the
    data/ GC (needs a session to read the sidecars) — the skip must be
    visible in the report, not silent under-reclaim (r11 VERDICT
    item 6)."""
    from spark_indexedrdd_spark.sources import zonemap as ZM

    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    p = str(tmp_path / "vac_note")
    ZM.write_zonemap_table(
        li.where("l_orderkey % 3 != 0"), p, "l_shipdate", n_files=4
    )
    ZM.append_zonemap_batch(
        li.where("l_orderkey % 3 = 0"), p, batch_tag="zb1", n_files=2
    )
    out = SC.vacuum_store(p, keep_versions=1)
    assert out["data_gc"].startswith("skipped"), out
    out2 = SC.vacuum_store(p, keep_versions=1, spark=spark)
    assert out2["data_gc"] == "done"
    # non-sidecar families carry no note at all
    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    from spark_indexedrdd_spark.functions import retrieval as R

    p2 = str(tmp_path / "vac_note_post")
    R.write_postings_store(docs.where("doc_id % 2 = 0"), p2, n_buckets=8)
    R.append_postings_batch(docs.where("doc_id % 2 = 1"), p2, batch_tag="b1")
    assert "data_gc" not in SC.vacuum_store(p2, keep_versions=1)


def test_vacuum_store_flat_family_gcs_unreferenced_data(spark, tmp_path):
    """The flat sidecar families (zone-map): with spark passed, vacuum
    also GC's data/ files no retained sidecar row names, and the
    pruned read over the survivors is value-identical."""
    import os
    import shutil

    from spark_indexedrdd_spark.sources import zonemap as ZM

    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    p = str(tmp_path / "vac_zm")
    ZM.write_zonemap_table(
        li.where("l_orderkey % 3 != 0"), p, "l_shipdate", n_files=4
    )
    ZM.append_zonemap_batch(
        li.where("l_orderkey % 3 = 0"), p, batch_tag="zb1", n_files=2
    )
    v2 = SC.read_meta(p)["version"]
    lo, hi = "1996-01-01", "1996-03-31"
    pre = sorted(
        map(tuple, ZM.zonemap_read(spark, p, lo, hi).collect())
    )
    datadir = os.path.join(p, "data")
    src = next(
        f for f in sorted(os.listdir(datadir)) if f.endswith(".parquet")
    )
    debris = os.path.join(datadir, "batch-crashed-00000.parquet")
    shutil.copyfile(os.path.join(datadir, src), debris)

    out = SC.vacuum_store(p, keep_versions=1, spark=spark)
    assert out["floor"] == v2
    assert "data/batch-crashed-00000.parquet" in out["removed_files"]
    assert not os.path.exists(debris)
    assert (
        sorted(map(tuple, ZM.zonemap_read(spark, p, lo, hi).collect()))
        == pre
    )


def test_vacuum_store_bloom_family(spark, tmp_path):
    """The bloom sidecar family rides the same vacuum path as the
    zone-map (roots detection on the 'bloom' dir): floor advance, data/
    debris GC, value-identical pruned lookups afterwards."""
    import os
    import shutil

    from spark_indexedrdd_spark.sources import bloomindex as BL

    orders = spark.read.parquet(SF_DIR + "/orders.parquet")
    p = str(tmp_path / "vac_bloom")
    BL.write_bloom_table(
        orders.where("o_orderkey % 3 != 0"), p, "o_custkey", n_files=4
    )
    BL.append_bloom_batch(
        orders.where("o_orderkey % 3 = 0"), p, batch_tag="bb1", n_files=2
    )
    v2 = SC.read_meta(p)["version"]
    keys = [7, 19, 42, -5]
    pre = sorted(map(tuple, BL.bloom_multiget(spark, p, keys).collect()))
    datadir = os.path.join(p, "data")
    src = next(
        f for f in sorted(os.listdir(datadir)) if f.endswith(".parquet")
    )
    debris = os.path.join(datadir, "batch-crashed-00000.parquet")
    shutil.copyfile(os.path.join(datadir, src), debris)

    out = SC.vacuum_store(p, keep_versions=1, spark=spark)
    assert out["floor"] == v2
    assert "data/batch-crashed-00000.parquet" in out["removed_files"]
    assert not os.path.exists(debris)
    assert (
        sorted(map(tuple, BL.bloom_multiget(spark, p, keys).collect())) == pre
    )


def test_fold_applied_watermarks_unit():
    """r14: vacuum compacts checkpoint-namespaced stream tags into
    per-namespace high-water marks so meta stays O(checkpoints-ever +
    operator-tags) under continuous ingest. Operator and legacy bare
    tags keep exact entries (only machine-minted monotonic ids are
    safe to summarize); a FRESH checkpoint's namespace is never
    covered — the hazard the r13 ADVICE named on the exact-map
    watermark is structurally absent here."""
    meta = {
        "applied": [
            "opt-batch",           # operator tag: kept exact
            "b3",                  # legacy un-namespaced stream tag: kept
            "abcdefabcdef-b0",     # ns A, postings-style 'b' marker
            "abcdefabcdef-b2",
            "0123456789ab-7",      # ns B, bare-id style
            "not-a-hexns12-1",     # non-hex prefix: kept exact
        ]
    }
    assert SC.fold_applied_watermarks(meta) == 3
    assert meta["applied"] == ["opt-batch", "b3", "not-a-hexns12-1"]
    assert meta["applied_watermarks"] == {
        "abcdefabcdef-b": 2,
        "0123456789ab-": 7,
    }
    # idempotent: nothing left to fold
    assert SC.fold_applied_watermarks(meta) == 0
    # replay coverage: at/below the OWN namespace's watermark only
    assert SC.tag_is_applied(meta, "abcdefabcdef-b1")  # gap id: covered
    assert SC.tag_is_applied(meta, "abcdefabcdef-b2")
    assert not SC.tag_is_applied(meta, "abcdefabcdef-b3")
    assert SC.tag_is_applied(meta, "0123456789ab-7")
    assert not SC.tag_is_applied(meta, "ffffffffffff-b0")  # fresh ckpt
    assert SC.tag_is_applied(meta, "b3")  # legacy: exact entry
    assert not SC.tag_is_applied(meta, "b4")
    assert not SC.tag_is_applied(meta, None)
    assert SC.tag_is_applied(meta, "opt-batch")


def test_vacuum_folds_stream_tags_replay_stays_noop(spark, tmp_path):
    """Vacuum on a manifest-pointer store folds the stream tags into
    watermarks (its own bookkeeping commit when the floor is already
    at rest), replays of folded tags stay exact no-ops, a fresh
    checkpoint's batch 0 still lands, and operator tags survive as
    exact entries."""
    from spark_indexedrdd_spark.functions import retrieval as R

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "fold_postings")
    R.write_postings_store(docs.where("doc_id % 4 = 0"), p, n_buckets=8)
    assert R.append_postings_batch(
        docs.where("doc_id % 4 = 1"), p, batch_tag="abcdefabcdef-b0"
    )
    assert R.append_postings_batch(
        docs.where("doc_id % 4 = 2"), p, batch_tag="abcdefabcdef-b1"
    )
    assert R.append_postings_batch(
        docs.where("doc_id % 4 = 3"), p, batch_tag="opbatch"
    )
    pre = sorted(map(tuple, R.bm25_from_store(spark, p).collect()))

    out = SC.vacuum_store(p, keep_versions=10)  # floor does NOT move
    assert out["folded_applied"] == 2
    meta = SC.read_meta(p)
    assert meta["applied"] == ["opbatch"]
    assert meta["applied_watermarks"] == {"abcdefabcdef-b": 1}
    # replay of a folded tag: no-op, serve unchanged
    assert not R.append_postings_batch(
        docs.where("doc_id % 4 = 1"), p, batch_tag="abcdefabcdef-b0"
    )
    assert not R.append_postings_batch(
        docs.where("doc_id % 4 = 3"), p, batch_tag="opbatch"
    )
    assert sorted(map(tuple, R.bm25_from_store(spark, p).collect())) == pre
    # a second vacuum has nothing to fold (no commit-churn per vacuum)
    v = SC.read_meta(p)["version"]
    again = SC.vacuum_store(p, keep_versions=10)
    assert again["folded_applied"] == 0
    assert SC.read_meta(p)["version"] == v
    # fresh checkpoint namespace: batch id 0 again is NEW data
    assert R.append_postings_batch(
        docs.where("doc_id % 4 = 1"), p, batch_tag="ffffffffffff-b0"
    )


def test_count_store_compaction_folds_replay_ledger(spark, tmp_path):
    """The n-gram count store's `applied` list doubles as its live
    counts_tagged/ directory pointer, so vacuum_store must NOT fold it
    (no manifest roots -> gated off); its own compaction — where the
    directories merge into the base — is the fold point. Counts stay
    byte-identical, folded-tag replays stay no-ops, fresh namespaces
    land."""
    from spark_indexedrdd_spark.functions import text as T

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    p = str(tmp_path / "fold_counts")
    T.write_ngram_count_store(
        docs.where("doc_id % 3 = 0"), p, n_buckets=256
    )
    assert T.append_ngram_count_batch(
        docs.where("doc_id % 3 = 1"), p, batch_tag="abcdefabcdef-b0"
    )
    assert T.append_ngram_count_batch(
        docs.where("doc_id % 3 = 2"), p, batch_tag="abcdefabcdef-b1"
    )

    def counts():
        merged, _ = T._read_counts(spark, p)
        return sorted(map(tuple, merged.collect()))

    pre = counts()
    # vacuum on this family must not touch the dual-purpose ledger
    SC.vacuum_store(p, keep_versions=1)
    assert SC.read_meta(p).get("applied") == [
        "abcdefabcdef-b0", "abcdefabcdef-b1"
    ]
    assert counts() == pre

    T.compact_ngram_count_store(spark, p)
    meta = SC.read_meta(p)
    assert meta["applied"] == []
    assert meta["applied_watermarks"] == {"abcdefabcdef-b": 1}
    assert counts() == pre  # integer SUM fold is exact
    # folded-tag replay: no-op, counts unchanged
    assert not T.append_ngram_count_batch(
        docs.where("doc_id % 3 = 1"), p, batch_tag="abcdefabcdef-b1"
    )
    assert counts() == pre
    # fresh checkpoint: same batch id, genuinely new data, lands
    assert T.append_ngram_count_batch(
        docs.where("doc_id % 3 = 1"), p, batch_tag="ffffffffffff-b0"
    )
    assert counts() != pre


def test_zonemap_compact_carries_applied_watermarks(spark, tmp_path):
    """compact_zonemap_store rebuilds meta via a sibling build that
    carries only the exact `applied` list — r14: the folded watermarks
    must ride along or a redelivered folded stream batch re-applies
    after a compact."""
    from spark_indexedrdd_spark.sources import zonemap as Z

    ev = spark.read.parquet(SF_DIR + "/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    p = str(tmp_path / "fold_zones")
    Z.write_zonemap_table(ev.where("event_id % 2 = 0"), p, "ts", n_files=2)
    assert Z.append_zonemap_batch(
        ev.where("event_id % 2 = 1"), p, batch_tag="abcdefabcdef-b0"
    )
    pre = Z.zonemap_read(spark, p).count()
    assert SC.vacuum_store(p, keep_versions=10)["folded_applied"] == 1
    Z.compact_zonemap_store(spark, p)
    assert SC.read_meta(p)["applied_watermarks"] == {"abcdefabcdef-b": 0}
    assert not Z.append_zonemap_batch(
        ev.where("event_id % 2 = 1"), p, batch_tag="abcdefabcdef-b0"
    )
    assert Z.zonemap_read(spark, p).count() == pre
