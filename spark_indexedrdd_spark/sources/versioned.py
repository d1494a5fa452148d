"""Persisted multi-version KV store: the reference's copy-on-write
snapshot semantics (PARTPartition.scala:53-69, README.md:29-45 — old and
new versions coexist and share structure) carried to STORAGE, where the
in-session form (DataFrame immutability + StreamingKVStore.history)
cannot reach: versions survive the session, and "structural sharing"
becomes file-granularity sharing — a commit writes ONLY its delta, and
every version's files are immutable once written.

Layout (published through ``functions.store_commit.commit_meta``):

    path/meta.json              committed version log + schema contract
                                + replay ledger (``applied``)
    path/_versions/<n>.json     commit_meta's per-publish ledger
    path/v0-<attempt>/snapshot/ full table (parquet)
    path/v1-<attempt>/puts/     upsert delta (key..., value)
    path/v2-<attempt>/deletes/  delete delta (key...)
    path/v5-<attempt>/snapshot/ compaction checkpoint
    ...

Every init, commit and compaction writes into a FRESH attempt directory
and the log entry it publishes names that directory (``dir``). Bytes a
crashed or losing attempt wrote are named by no entry, so they are
invisible, a retry succeeds, and :meth:`VersionedKVStore.vacuum`
reclaims them. Concurrent writers are detected, not lost: each publish
reserves the next ledger slot, so the writer that read a stale log
raises ``ConcurrentWriteConflict`` while the winner's commit stands and
no version id is reused; re-running the operation recomputes against
the winner's log. Durability: ``meta.json`` and the ledger are fsynced;
the parquet data files are NOT — they live on whatever filesystem the
executors write (HDFS, object stores, local disk) and the driver cannot
fsync another host's files. A power loss right after a publish on a
local disk can therefore leave the newest version naming truncated part
files, which fail to read; older versions are untouched and rows are
never silently mixed.

A store written before this layout (``manifest.json``, directories
``v<id>/``, replay ledger in ``pruned_tags`` / ``pruned_batch_watermark``)
opens and reads unchanged through :func:`_from_manifest`; its next
publish writes ``meta.json``.

``read(v)`` folds the newest snapshot ≤ v plus the deltas after it with
the SAME operators a live frame uses — ``multiput_df`` (shuffled-hash
full outer, base never re-sorts) and ``delete_df`` — so on-disk deltas
and in-memory updates provably mean the same thing (pytest-pinned).
The unexecuted fold chain is exactly the reference's ``LazyPartition``
view (LazyPartition.scala:29-46); :meth:`compact` is its ``reindex()``
(LazyPartition.scala:134-135), persisted: it writes the folded table as
a snapshot so later reads start from a shorter chain.

Scale: a commit costs one delta-sized write (the base is never
rewritten); a read costs the snapshot scan plus one shuffled-hash merge
per delta — compact every ~8 commits (the StreamingKVStore cadence) to
bound the chain. Retention/GC is :meth:`VersionedKVStore.vacuum`: keep
the newest N versions, publish the refusal floor, then delete the
version directories below the newest snapshot the retained reads fold
from.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from spark_indexedrdd_spark.core import (
    OVERWRITE,
    SUM_MERGE,
    IndexedDataFrame,
)
from spark_indexedrdd_spark.functions.store_commit import (
    StreamTagMixin,
    _stream_tag_parts,
    commit_meta,
    fold_applied_watermarks,
    read_meta,
    tag_is_applied,
)

_MERGES = {"overwrite": OVERWRITE, "sum": SUM_MERGE}
_VERSION_DIR = re.compile(r"v(\d+)(-[0-9a-f]+)?")
# stream tags minted without a checkpoint namespace (unreadable
# checkpoint metadata, direct foreach_batch calls) are ``batch-<id>``;
# vacuum folds them into the watermark under this stem, which only
# _replay reads (tag_is_applied knows namespaced stems only)
_UNSCOPED = "batch-"
_UNSCOPED_TAG = re.compile(r"batch-([0-9]+)")


def _unscoped_id(tag: "str | None") -> "int | None":
    hit = _UNSCOPED_TAG.fullmatch(tag) if tag is not None else None
    return int(hit.group(1)) if hit else None


def _fold_unscoped(m: dict) -> None:
    """Fold the ``batch-<id>`` tags in ``applied`` into the ``batch-``
    watermark, in place — fold_applied_watermarks' twin for the
    un-namespaced stream form, so its ledger stays O(1) too."""
    ids = [_unscoped_id(t) for t in m.get("applied") or []]
    hits = [i for i in ids if i is not None]
    if hits:
        wms = m.setdefault("applied_watermarks", {})
        wms[_UNSCOPED] = max(hits + [int(wms.get(_UNSCOPED, -1))])
        m["applied"] = [t for t, i in zip(m["applied"], ids) if i is None]


def _mixin_tag(tag: "str | None") -> "str | None":
    """A pre-StreamTagMixin stream_ingest tag ``batch-<ns>-<id>`` in
    the mixin's form ``<ns>-<id>``; any other tag unchanged."""
    if tag is not None and tag.startswith("batch-") and _stream_tag_parts(tag[6:]):
        return tag[6:]
    return tag


def _from_manifest(m: dict) -> dict:
    """The meta of a store in the older ``manifest.json`` format (the
    legacy-read path). Its replay ledger moves to ``applied`` /
    ``applied_watermarks``: namespaced stream tags take the mixin form,
    and each namespace's ``pruned_batch_watermark`` becomes that stem's
    watermark (the un-namespaced one the ``batch-`` stem's). Stamped
    ``version`` 0, so two writers racing the first publish conflict
    like any other pair."""
    m = dict(m, version=0)
    m["versions"] = [
        {**e, "tag": _mixin_tag(e["tag"])} if "tag" in e else e
        for e in m["versions"]
    ]
    applied = [_mixin_tag(t) for t in m.pop("pruned_tags", {})]
    wms = m.pop("pruned_batch_watermark", None) or {}
    if "max_id" in wms:  # single-namespace form of the oldest stores
        wms = {"": wms}
    if wms:
        m["applied_watermarks"] = {
            f"{ns}-" if ns else _UNSCOPED: int(wm["max_id"])
            for ns, wm in wms.items()
        }
    if applied:
        m["applied"] = applied
    return m


class VersionedKVStore(StreamTagMixin):
    # stream_ingest's settings for foreach_batch
    _merge = "overwrite"
    _compact_every = 8

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -------------------------------------------------------------- #
    # meta
    # -------------------------------------------------------------- #

    def _meta(self) -> dict:
        try:
            return read_meta(self.path)
        except FileNotFoundError:
            with open(os.path.join(self.path, "manifest.json")) as f:
                return _from_manifest(json.load(f))

    @staticmethod
    def _dir(e: dict) -> str:
        return e.get("dir", f"v{e['v']}")  # older layout: v<id>/

    def _append(self, m: dict, kind: str, df: DataFrame, **fields) -> int:
        """Write ``df`` into a fresh attempt directory, then publish the
        log entry naming it. Returns the new version id."""
        v = m["versions"][-1]["v"] + 1 if m["versions"] else 0
        d = f"v{v}-{uuid.uuid4().hex[:8]}"
        df.write.parquet(os.path.join(self.path, d, kind))
        m["versions"].append({"v": v, "kind": kind, **fields, "dir": d})
        commit_meta(self.path, m)  # <-- commit point
        return v

    # -------------------------------------------------------------- #
    # construction
    # -------------------------------------------------------------- #

    @classmethod
    def init(cls, idf: IndexedDataFrame, path: str) -> "VersionedKVStore":
        """Create the store with version 0 = a full snapshot of ``idf``."""
        store = cls(idf.df.sparkSession, path)
        if any(
            os.path.exists(os.path.join(path, f))
            for f in ("meta.json", "manifest.json")
        ):
            raise FileExistsError(f"a versioned store already exists at {path!r}")
        m = {
            "keys": list(idf.keys),
            "value": idf._single_value(),
            "num_partitions": idf.num_partitions,
            "versions": [],
            "version": 0,  # a racing init conflicts instead of replacing
        }
        store._append(m, "snapshot", idf.df)
        return store

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "VersionedKVStore":
        store = cls(spark, path)
        store._meta()  # validate existence/shape
        return store

    # -------------------------------------------------------------- #
    # commits
    # -------------------------------------------------------------- #

    def _replay(self, m: dict, tag: "str | None") -> "int | None":
        """The version a replay of the committed ``tag`` returns, or None
        for a new tag: its own version while its log entry exists, else
        the vacuum floor — the oldest servable version, which contains
        every commit a vacuum pruned."""
        if tag is None:
            return None
        for e in m["versions"]:
            if e.get("tag") == tag:
                return e["v"]
        wm = (m.get("applied_watermarks") or {}).get(_UNSCOPED)
        bid = _unscoped_id(tag)
        if tag_is_applied(m, tag) or (
            bid is not None and wm is not None and bid <= int(wm)
        ):
            return int(m.get("vacuum_floor", 0))
        return None

    def _commit(self, kind: str, df: DataFrame, tag, **fields) -> int:
        tag = _mixin_tag(tag)
        m = self._meta()
        seen = self._replay(m, tag)
        if seen is not None:
            return seen
        if tag is not None:
            fields["tag"] = tag
        cols = m["keys"] + ([m["value"]] if kind == "puts" else [])
        return self._append(m, kind, df.select(*cols), **fields)

    def commit_puts(
        self,
        updates: DataFrame,
        merge: str = "overwrite",
        tag: "str | None" = None,
    ) -> int:
        """Append an upsert delta: (key..., value) rows. ``merge`` names
        how the delta folds into existing keys at READ time —
        "overwrite" (last version wins) or "sum" — recorded in the
        log so every reader reproduces the same table. Returns the
        new version id. Cost: one delta-sized write, zero base I/O.

        ``tag`` makes the commit IDEMPOTENT: a committed tag returns its
        version without writing (at-least-once replay safety for
        streaming ingest — see :meth:`_replay` for which version)."""
        if merge not in _MERGES:
            raise ValueError(f"unknown merge {merge!r}; use {sorted(_MERGES)}")
        return self._commit("puts", updates, tag, merge=merge)

    def commit_deletes(
        self, dels: DataFrame, tag: "str | None" = None
    ) -> int:
        """Append a delete delta: (key...) rows. Deleting an absent key
        is a no-op at read time (reference IndexedRDDSuite.scala:216).
        ``tag`` gives the same replay idempotency as commit_puts."""
        return self._commit("deletes", dels, tag)

    # -------------------------------------------------------------- #
    # reads (any version, any time)
    # -------------------------------------------------------------- #

    def versions(self) -> "list[int]":
        return [e["v"] for e in self._meta()["versions"]]

    def read(self, version: "int | None" = None) -> IndexedDataFrame:
        """The table AS OF ``version`` (default: latest). Old versions
        stay readable after later commits — the reference's coexisting
        multi-version semantics (README.md:29-45), across sessions."""
        m = self._meta()
        entries = m["versions"]
        if version is None:
            version = entries[-1]["v"]
        # floor refusal FIRST: a below-floor version refuses with the
        # vacuum message whether or not its log entry still exists —
        # vacuum(prune_manifest=True) drops dead entries, and "unknown
        # version" for a version retention reclaimed would misread as
        # caller error
        floor = int(m.get("vacuum_floor", 0))
        if version < floor:
            raise ValueError(
                f"version {version} predates the vacuum floor {floor} — "
                "its files were reclaimed by vacuum(); only versions >= "
                "the floor are servable"
            )
        if version not in {e["v"] for e in entries}:
            raise ValueError(f"unknown version {version}")
        upto = [e for e in entries if e["v"] <= version]
        snap_idx = max(
            i for i, e in enumerate(upto) if e["kind"] == "snapshot"
        )
        idf = IndexedDataFrame.from_unique(
            self.spark.read.parquet(
                os.path.join(self.path, self._dir(upto[snap_idx]), "snapshot")
            ),
            m["keys"],
            num_partitions=m["num_partitions"],
            cache=False,
        )
        for e in upto[snap_idx + 1 :]:
            delta = self.spark.read.parquet(
                os.path.join(self.path, self._dir(e), e["kind"])
            )
            if e["kind"] == "puts":
                idf = idf.multiput_df(delta, f=_MERGES[e["merge"]])
            elif e["kind"] == "deletes":
                idf = idf.delete_df(delta)
        return idf

    # -------------------------------------------------------------- #
    # compaction (LazyPartition.reindex, persisted)
    # -------------------------------------------------------------- #

    def changes(self, v_from: int, v_to: int) -> DataFrame:
        """CDC extract between two versions: (key..., change, old, new)
        with change ∈ {'added', 'deleted', 'updated'} — the reference's
        ``diff`` changed-rows detector (IndexedRDD.scala:218-227)
        generalized across time travel (diff reports only value changes
        on shared keys; a version delta also creates and removes keys).
        One full outer join of the two folded versions; unchanged keys
        are dropped with a null-safe equality (NULL values compare
        equal to NULL, like core.diff)."""
        m = self._meta()
        keys, v = m["keys"], m["value"]
        from pyspark.sql import functions as F

        a = self.read(v_from).df.withColumnRenamed(v, "old").withColumn(
            "__has_a", F.lit(True)
        )
        b = self.read(v_to).df.withColumnRenamed(v, "new").withColumn(
            "__has_b", F.lit(True)
        )
        j = a.join(b, on=keys, how="full")
        change = (
            F.when(F.col("__has_a").isNull(), F.lit("added"))
            .when(F.col("__has_b").isNull(), F.lit("deleted"))
            .when(~F.col("old").eqNullSafe(F.col("new")), F.lit("updated"))
        )
        return (
            j.select(*keys, change.alias("change"), "old", "new")
            .where(F.col("change").isNotNull())
        )

    def stream_ingest(
        self,
        stream_df,
        checkpoint_dir: str,
        merge: str = "overwrite",
        compact_every: int = 8,
        **trigger_kwargs,
    ):
        """Attach a Structured Streaming query whose every micro-batch
        becomes one COMMITTED version (tag = checkpoint-namespaced
        batch id via StreamTagMixin, so at-least-once replays are
        no-ops and a fresh checkpoint's reset ids never collide with
        another run's), compacting every ``compact_every`` commits to
        bound the read-time fold chain — the persisted twin of
        streaming.kv_sink.StreamingKVStore."""
        self._merge, self._compact_every = merge, compact_every
        return self._start_stream(
            stream_df, checkpoint_dir, "update", **trigger_kwargs
        )

    def foreach_batch(self, batch_df, batch_id: int) -> None:
        """One micro-batch of :meth:`stream_ingest`: a tagged commit,
        then a compaction every ``compact_every`` deltas."""
        if not batch_df.take(1):
            return
        tag = self._stream_tag(str(batch_id))
        if not self._ns:
            tag = f"batch-{batch_id}"  # the un-namespaced stream form
        elif self._replay(self._meta(), f"batch-{batch_id}") is not None:
            # cross-upgrade guard: a run before StreamTagMixin committed
            # this batch un-namespaced — its redelivery stays a no-op
            return
        self.commit_puts(batch_df, merge=self._merge, tag=tag)
        n_deltas = sum(
            1 for e in self._meta()["versions"] if e["kind"] != "snapshot"
        )
        if n_deltas and n_deltas % self._compact_every == 0:
            self.compact()

    def vacuum(
        self, keep_versions: int = 1, prune_manifest: bool = False
    ) -> "list[int]":
        """Retention-horizon GC (r10 VERDICT item 3): keep the newest
        ``keep_versions`` versions readable, reclaim everything older.
        Unlike the manifest-pointer stores (whose append lineage shares
        files cumulatively — ``store_commit.vacuum_store``), this COW
        log's versions own disjoint delta/snapshot directories, so
        vacuum here reclaims real bytes: every version directory below
        the retention BASE — the newest snapshot at or under the oldest
        retained version (retained reads fold from that snapshot, so
        nothing older is reachable) — is deleted. So are attempt
        directories no entry names (a crashed or losing writer's bytes,
        once their version id is committed) and the ``_versions/``
        ledger files below the committed frontier.

        Ordering (crash-safe): the publish of ``vacuum_floor`` lands
        FIRST, so reads refuse vacuumed versions before any directory
        disappears; a crash in between leaves dead-but-present
        directories, and a re-run is idempotent. Versions in [base,
        oldest-retained) stay readable — they cost nothing to keep
        (their dirs are the retained fold's inputs).

        Call :meth:`compact` first to plant a fresh snapshot if the
        newest snapshot is far behind the horizon — vacuum never
        deletes a directory a retained read still folds.

        ``prune_manifest=True`` additionally drops the DEAD entries
        (v < floor) from the version log: without it a year of
        micro-batch commits leaves a ~10^5-entry log parsed on every
        read. Their tags move to the replay ledger (``applied``), where
        stream tags fold into one watermark per checkpoint namespace
        (``fold_applied_watermarks``; the un-namespaced ``batch-<id>``
        form into one more), so redelivery of a pruned commit stays a
        no-op. Below-floor reads refuse with the SAME vacuum
        message either way.

        Returns the reclaimed version ids."""
        m = self._meta()
        entries = m["versions"]
        kv = max(1, int(keep_versions))
        keep_min = entries[-kv]["v"] if kv <= len(entries) else entries[0]["v"]
        base = max(
            e["v"] for e in entries if e["kind"] == "snapshot" and e["v"] <= keep_min
        )  # v0 is always a snapshot
        old_floor = int(m.get("vacuum_floor", 0))
        floor = max(old_floor, base)
        dead = [e["v"] for e in entries if e["v"] < floor]
        if floor > old_floor or (prune_manifest and dead):
            m["vacuum_floor"] = floor
            if prune_manifest:
                m["applied"] = (m.get("applied") or []) + [
                    e["tag"] for e in entries if e["v"] < floor and "tag" in e
                ]
                fold_applied_watermarks(m)
                _fold_unscoped(m)
                m["versions"] = [e for e in entries if e["v"] >= floor]
            commit_meta(self.path, m)  # <-- refusal publishes before reclaim
        live = {self._dir(e) for e in m["versions"] if e["v"] >= floor}
        latest = m["versions"][-1]["v"]
        for name in os.listdir(self.path):
            hit = _VERSION_DIR.fullmatch(name)
            # an unnamed directory above the latest version may be a
            # live writer's attempt in flight
            if hit and name not in live and int(hit.group(1)) <= latest:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        vdir = os.path.join(self.path, "_versions")
        frontier = int(m.get("version", 0))
        for f in os.listdir(vdir) if os.path.isdir(vdir) else ():
            if f.endswith(".json") and f[:-5].isdigit() and int(f[:-5]) < frontier:
                os.remove(os.path.join(vdir, f))
        return dead

    def compact(self) -> int:
        """Materialize the LATEST version as a snapshot so later reads
        fold a shorter chain. Appends a snapshot entry (a new version id
        with identical contents); never rewrites or invalidates earlier
        versions — time travel to them still works."""
        m = self._meta()
        return self._append(m, "snapshot", self.read().df)
