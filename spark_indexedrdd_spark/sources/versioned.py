"""Persisted multi-version KV store: the reference's copy-on-write
snapshot semantics (PARTPartition.scala:53-69, README.md:29-45 — old and
new versions coexist and share structure) carried to STORAGE, where the
in-session form (DataFrame immutability + StreamingKVStore.history)
cannot reach: versions survive the session, and "structural sharing"
becomes file-granularity sharing — a commit writes ONLY its delta, and
every version's files are immutable once written.

Layout (single writer; manifest swapped atomically):

    path/manifest.json          ordered version log + schema contract
    path/v0/snapshot/           full table (parquet)
    path/v1/puts/               upsert delta (key..., value)
    path/v2/deletes/            delete delta (key...)
    path/v5/snapshot/           compaction checkpoint
    ...

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

from pyspark.sql import DataFrame, SparkSession

from spark_indexedrdd_spark.core import (
    OVERWRITE,
    SUM_MERGE,
    IndexedDataFrame,
)
from spark_indexedrdd_spark.functions.store_commit import checkpoint_namespace

_MERGES = {"overwrite": OVERWRITE, "sum": SUM_MERGE}


def _batch_tag_parts(tag: "str | None") -> "tuple[str, int] | None":
    """(namespace, micro-batch id) of a stream_ingest commit tag, or
    None for operator-issued tags — the discriminator behind the O(1)
    pruned-batch replay watermark. Two forms:

    - ``batch-<id>`` — legacy un-namespaced (pre-r14 ingests),
      namespace "".
    - ``batch-<ns>-<id>`` — namespaced by the Structured Streaming
      CHECKPOINT's query id (r14, r13 ADVICE): batch ids are monotonic
      only PER CHECKPOINT, so a fresh checkpoint (ids reset to 0)
      against a store whose watermark already covers those ids would
      silently no-op genuinely new data. A fresh checkpoint gets a
      fresh namespace — and a fresh watermark — instead.
    """
    if tag is None or not tag.startswith("batch-"):
        return None
    suffix = tag[6:]
    if suffix.isdigit():
        return ("", int(suffix))
    ns, sep, bid = suffix.rpartition("-")
    if sep and ns and bid.isdigit():
        return (ns, int(bid))
    return None


def _batch_tag_id(tag: "str | None") -> "int | None":
    parts = _batch_tag_parts(tag)
    return None if parts is None else parts[1]


def _load_watermarks(m: dict) -> "dict[str, dict]":
    """The per-namespace pruned-batch watermark map, normalizing the
    legacy single-watermark form ({"max_id": ..., "v": ...}, minted by
    pre-r14 vacuums over un-namespaced tags) to namespace ""."""
    wm = m.get("pruned_batch_watermark")
    if wm is None:
        return {}
    if "max_id" in wm:  # legacy single-namespace form
        return {"": wm}
    return dict(wm)


class VersionedKVStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -------------------------------------------------------------- #
    # manifest
    # -------------------------------------------------------------- #

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _manifest(self) -> dict:
        with open(self._manifest_path()) as f:
            return json.load(f)

    def _swap_manifest(self, m: dict) -> None:
        # fsync data before the rename and the directory entry after —
        # same discipline as store_commit.commit_meta; without it a
        # power loss can journal the rename ahead of the data blocks
        # (ext4 semantics) and publish an EMPTY manifest, and vacuum's
        # refuse-before-reclaim ordering (floor lands BEFORE version
        # dirs are deleted) would otherwise not be durable (r11 review
        # finding)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())  # atomic on POSIX
        dfd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    # -------------------------------------------------------------- #
    # construction
    # -------------------------------------------------------------- #

    @classmethod
    def init(cls, idf: IndexedDataFrame, path: str) -> "VersionedKVStore":
        """Create the store with version 0 = a full snapshot of ``idf``."""
        os.makedirs(path, exist_ok=True)
        idf.df.write.mode("errorifexists").parquet(
            os.path.join(path, "v0", "snapshot")
        )
        store = cls(idf.df.sparkSession, path)
        store._swap_manifest(
            {
                "keys": list(idf.keys),
                "value": idf._single_value(),
                "num_partitions": idf.num_partitions,
                "versions": [{"v": 0, "kind": "snapshot"}],
            }
        )
        return store

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "VersionedKVStore":
        store = cls(spark, path)
        store._manifest()  # validate existence/shape
        return store

    # -------------------------------------------------------------- #
    # commits (single writer)
    # -------------------------------------------------------------- #

    def _next(self, m: dict) -> int:
        return m["versions"][-1]["v"] + 1

    def _tagged(self, m: dict, tag: "str | None") -> "int | None":
        if tag is None:
            return None
        for e in m["versions"]:
            if e.get("tag") == tag:
                return e["v"]
        # tags of log entries a vacuum(prune_manifest=True) dropped:
        # the replay ledger must outlive the entries, or a redelivered
        # batch whose commit was pruned re-applies as the NEWEST
        # version (overwrite-merge: stale values win; sum-merge:
        # double count) — r12 review finding
        if tag in m.get("pruned_tags", {}):
            return int(m["pruned_tags"][tag])
        # stream_ingest's monotonic batch tags fold into ONE watermark
        # PER CHECKPOINT NAMESPACE instead of an O(pruned-commits) map
        # (r12 ADVICE: a year of micro-batches must not leave a
        # ~10^5-entry map parsed on every manifest read). Structured
        # Streaming batch ids are monotonic per checkpoint — that is
        # exactly the namespace — so any id at/below ITS OWN
        # checkpoint's watermark was applied and redelivery is a
        # no-op, while a fresh checkpoint's ids start in a fresh
        # namespace and never collide (r13 ADVICE). The returned
        # version is the watermark's (per-id versions are what the
        # O(1) summary sheds); callers needing the exact replay
        # version must not prune the manifest.
        parts = _batch_tag_parts(tag)
        if parts is not None:
            wm = _load_watermarks(m).get(parts[0])
            if wm is not None and parts[1] <= int(wm["max_id"]):
                return int(wm["v"])
        return None

    def commit_puts(
        self,
        updates: DataFrame,
        merge: str = "overwrite",
        tag: "str | None" = None,
    ) -> int:
        """Append an upsert delta: (key..., value) rows. ``merge`` names
        how the delta folds into existing keys at READ time —
        "overwrite" (last version wins) or "sum" — recorded in the
        manifest so every reader reproduces the same table. Returns the
        new version id. Cost: one delta-sized write, zero base I/O.

        ``tag`` makes the commit IDEMPOTENT: a tag already in the
        manifest returns its version without writing (at-least-once
        replay safety for streaming ingest — the data files of an
        interrupted first attempt are simply overwritten, and only the
        manifest swap publishes a version)."""
        if merge not in _MERGES:
            raise ValueError(f"unknown merge {merge!r}; use {sorted(_MERGES)}")
        m = self._manifest()
        seen = self._tagged(m, tag)
        if seen is not None:
            return seen
        v = self._next(m)
        cols = m["keys"] + [m["value"]]
        updates.select(*cols).write.mode(
            "overwrite" if tag is not None else "errorifexists"
        ).parquet(os.path.join(self.path, f"v{v}", "puts"))
        entry = {"v": v, "kind": "puts", "merge": merge}
        if tag is not None:
            entry["tag"] = tag
        m["versions"].append(entry)
        self._swap_manifest(m)
        return v

    def commit_deletes(
        self, dels: DataFrame, tag: "str | None" = None
    ) -> int:
        """Append a delete delta: (key...) rows. Deleting an absent key
        is a no-op at read time (reference IndexedRDDSuite.scala:216).
        ``tag`` gives the same replay idempotency as commit_puts."""
        m = self._manifest()
        seen = self._tagged(m, tag)
        if seen is not None:
            return seen
        v = self._next(m)
        dels.select(*m["keys"]).write.mode(
            "overwrite" if tag is not None else "errorifexists"
        ).parquet(os.path.join(self.path, f"v{v}", "deletes"))
        entry = {"v": v, "kind": "deletes"}
        if tag is not None:
            entry["tag"] = tag
        m["versions"].append(entry)
        self._swap_manifest(m)
        return v

    # -------------------------------------------------------------- #
    # reads (any version, any time)
    # -------------------------------------------------------------- #

    def versions(self) -> "list[int]":
        return [e["v"] for e in self._manifest()["versions"]]

    def read(self, version: "int | None" = None) -> IndexedDataFrame:
        """The table AS OF ``version`` (default: latest). Old versions
        stay readable after later commits — the reference's coexisting
        multi-version semantics (README.md:29-45), across sessions."""
        m = self._manifest()
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
        base_v = upto[snap_idx]["v"]
        idf = IndexedDataFrame.from_unique(
            self.spark.read.parquet(
                os.path.join(self.path, f"v{base_v}", "snapshot")
            ),
            m["keys"],
            num_partitions=m["num_partitions"],
            cache=False,
        )
        for e in upto[snap_idx + 1 :]:
            d = os.path.join(self.path, f"v{e['v']}")
            if e["kind"] == "puts":
                idf = idf.multiput_df(
                    self.spark.read.parquet(os.path.join(d, "puts")),
                    f=_MERGES[e["merge"]],
                )
            elif e["kind"] == "deletes":
                idf = idf.delete_df(
                    self.spark.read.parquet(os.path.join(d, "deletes"))
                )
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
        m = self._manifest()
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
        batch id, so at-least-once replays are no-ops), compacting
        every ``compact_every`` commits to bound the read-time fold
        chain — the persisted twin of streaming.kv_sink.StreamingKVStore.

        Replay tags are namespaced by the CHECKPOINT's query id (read
        from the ``metadata`` file Spark writes at query start): batch
        ids are monotonic only per checkpoint, and the vacuum-pruned
        replay ledger compacts them into a per-namespace watermark —
        so a stream restarted against the same store with a FRESH
        checkpoint (ids reset to 0) lands in a fresh namespace instead
        of silently no-oping below another run's watermark (r13
        ADVICE). Restriction that remains: ingest history committed
        with PRE-NAMESPACE tags ('batch-<id>') compacts into the ""
        namespace, whose watermark the legacy replay check below still
        consults — a fresh checkpoint over such a store must start
        past that legacy watermark (or the store must be vacuumed on a
        pinned manifest before the old entries prune)."""

        ns_cache: "list[str | None]" = [None]

        def _fb(batch_df, batch_id: int) -> None:
            if not batch_df.take(1):
                return
            if ns_cache[0] is None:
                ns_cache[0] = checkpoint_namespace(checkpoint_dir)
            ns = ns_cache[0]
            tag = f"batch-{ns}-{batch_id}" if ns else f"batch-{batch_id}"
            if ns and self._tagged(
                self._manifest(), f"batch-{batch_id}"
            ) is not None:
                # legacy replay guard: a pre-namespace run already
                # committed this batch id un-namespaced — redelivery
                # across the upgrade must stay a no-op
                return
            self.commit_puts(batch_df, merge=merge, tag=tag)
            n_deltas = sum(
                1 for e in self._manifest()["versions"] if e["kind"] != "snapshot"
            )
            if n_deltas and n_deltas % compact_every == 0:
                self.compact()

        return (
            stream_df.writeStream.outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(_fb)
            .trigger(**trigger_kwargs)
            .start()
        )

    def vacuum(
        self, keep_versions: int = 1, prune_manifest: bool = False
    ) -> "list[int]":
        """Retention-horizon GC (r10 VERDICT item 3): keep the newest
        ``keep_versions`` versions readable, reclaim everything older.
        Unlike the manifest-pointer stores (whose append lineage shares
        files cumulatively — ``store_commit.vacuum_store``), this COW
        ledger's versions own disjoint delta/snapshot directories, so
        vacuum here reclaims real bytes: every version directory below
        the retention BASE — the newest snapshot at or under the oldest
        retained version (retained reads fold from that snapshot, so
        nothing older is reachable) — is deleted.

        Ordering (crash-safe): the manifest swap publishing
        ``vacuum_floor`` lands FIRST, so reads refuse vacuumed versions
        before any directory disappears; a crash in between leaves
        dead-but-present directories, and a re-run is idempotent.
        Versions in [base, oldest-retained) stay readable — they cost
        nothing to keep (their dirs are the retained fold's inputs).

        Call :meth:`compact` first to plant a fresh snapshot if the
        newest snapshot is far behind the horizon — vacuum never
        deletes a directory a retained read still folds.

        ``prune_manifest=True`` additionally drops the DEAD entries
        (v < floor) from the manifest's version log — the COW twin of
        ``store_commit.vacuum_store(prune_ledger=True)``: without it a
        year of micro-batch commits leaves a ~10^5-entry log parsed on
        every read. Below-floor reads refuse with the SAME vacuum
        message either way (the floor check runs before the
        unknown-version check), and the entry drop rides the same
        atomic manifest swap that publishes the floor.

        Returns the reclaimed version ids."""
        import shutil

        m = self._manifest()
        entries = m["versions"]
        kv = max(1, int(keep_versions))
        keep_min = entries[-kv]["v"] if kv <= len(entries) else entries[0]["v"]
        snaps = [e["v"] for e in entries if e["kind"] == "snapshot" and e["v"] <= keep_min]
        base = max(snaps)  # v0 is always a snapshot
        floor = max(int(m.get("vacuum_floor", 0)), base)
        dead = [e["v"] for e in entries if e["v"] < floor]
        pruned = (
            [e for e in entries if e["v"] < floor] if prune_manifest else []
        )
        if floor > int(m.get("vacuum_floor", 0)) or pruned:
            m["vacuum_floor"] = floor
            if pruned:
                # the base snapshot sits AT the floor, so every entry a
                # retained read folds from survives the drop; the
                # REPLAY LEDGER survives it too — pruned entries' tags
                # fold into a compact {tag: v} map consulted by
                # _tagged, so at-least-once redelivery of a pruned
                # commit stays a no-op (stream_ingest's exactly-once
                # contract; tags are ~bytes per commit, the entries'
                # kind/merge payloads are what pruning sheds)
                # stream_ingest's monotonic batch tags compact into one
                # watermark (max pruned id + its version) PER CHECKPOINT
                # NAMESPACE, so the replay ledger is O(checkpoints) for
                # streaming ingest — one entry per stream ever attached,
                # human cadence — not O(pruned-commits); operator-issued
                # tags keep the exact {tag: v} map. Pre-watermark batch
                # entries already in pruned_tags are swept into their
                # namespace's watermark here too, so an existing store's
                # map shrinks on its next vacuum; a legacy single-form
                # watermark migrates to namespace "" (_load_watermarks).
                kept_tags = dict(m.get("pruned_tags", {}))
                kept_tags.update(
                    {e["tag"]: e["v"] for e in pruned if "tag" in e}
                )
                wms = _load_watermarks(m)
                batch_tags = {
                    t: v
                    for t, v in kept_tags.items()
                    if _batch_tag_parts(t) is not None
                }
                for t, v in batch_tags.items():
                    ns, bid = _batch_tag_parts(t)
                    wm = wms.get(ns)
                    if wm is None or bid > int(wm["max_id"]):
                        wms[ns] = {"max_id": bid, "v": int(v)}
                if batch_tags:
                    kept_tags = {
                        t: v
                        for t, v in kept_tags.items()
                        if t not in batch_tags
                    }
                if wms:
                    m["pruned_batch_watermark"] = wms
                if kept_tags or "pruned_tags" in m:
                    m["pruned_tags"] = kept_tags
                m["versions"] = [e for e in entries if e["v"] >= floor]
            self._swap_manifest(m)  # <-- refusal publishes before reclaim
        for v in dead:
            shutil.rmtree(os.path.join(self.path, f"v{v}"), ignore_errors=True)
        return dead

    def compact(self) -> int:
        """Materialize the LATEST version as a snapshot so later reads
        fold a shorter chain. Appends a snapshot entry (a new version id
        with identical contents); never rewrites or invalidates earlier
        versions — time travel to them still works."""
        m = self._manifest()
        latest = self.read()
        v = self._next(m)
        latest.df.write.mode("errorifexists").parquet(
            os.path.join(self.path, f"v{v}", "snapshot")
        )
        m["versions"].append({"v": v, "kind": "snapshot"})
        self._swap_manifest(m)
        return v
