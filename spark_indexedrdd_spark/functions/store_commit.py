"""Shared data-first / meta-last commit protocol for the persisted
stores (postings, n-gram counts, classifier model): ``meta.json``'s
existence is the store's commit marker, published atomically AFTER the
data lands.

The subtlety this module exists to centralize: on a REBUILD over an
existing store the old committed meta must be retracted BEFORE the
overwrite-mode data write starts — otherwise a crash mid-rebuild leaves
the old meta.json standing over half-overwritten data, i.e. a store
that *looks* committed but is corrupt. retract → write data → commit
restores the invariant "a crash anywhere leaves either the old
committed store gone (clearly uncommitted) or the new one fully
committed"; the re-run is idempotent either way.

(sources/versioned.py is a client too: its ``meta.json`` carries the
COW version log, every init/commit/compaction/vacuum publishes through
:func:`commit_meta`, and its replay ledger is ``applied`` /
``applied_watermarks`` with :func:`tag_is_applied`.)

Which stores carry a marker, and which deliberately don't:

- marker clients — stores whose read path derives GLOBAL state from
  multiple parts that must come from ONE build (postings: stats+files;
  IVF: centroids+vectors; IVFPQ: codes+centroids+codebooks; binary:
  sketches+vectors; n-gram counts: meta-pinned bucketization;
  classifier model: meta-pinned n_buckets+bias; zone-map and bloom
  sidecar stores: meta-pinned zone/key column + m/k; versioned KV
  store: meta-pinned version log naming each version's attempt
  directory). Mixing builds
  there is silent corruption, so the marker is mandatory. Scope: the
  marker fences REBUILDS. Append paths are fenced per family: postings
  appends commit through the manifest pointer below (exact, snapshot-
  isolated), and the zone-map/bloom appends reuse exactly that shape
  via the flat-dir helpers at the bottom of this module (readers reach
  data only through committed sidecar rows, so stray crash files are
  dead bytes); IVF/IVFPQ appends commit through the PARTITIONED
  manifest helpers at the bottom of this module (same shape, hive
  layout — so the ledger's as-of surface covers vector/code appends,
  not just deletes); the binary store's two-part append relies on write ORDER —
  vectors before sketches — so a crash leaves invisible vectors, never
  sketch rows whose stage-2 vectors are missing (quant.py
  append_binary_batch docstring); n-gram count appends are additive
  and ledger-free by documented trade-off.
- NOT clients — the append-ledger stores (minhash signatures,
  HLL/KLL sketches, top-m heavy hitters): single directory, rows merge
  at read time, "concurrent batches never conflict" is part of their
  contract, and a marker implies a single writer. Their crash exposure
  is a partial FIRST batch (statistically wrong counts, same class as
  their documented at-least-once replay tolerance) — not a cross-part
  mix — and their docstrings own that trade-off.
"""

from __future__ import annotations

import json
import os

try:  # POSIX only; absent on exotic/object-store mounts — see commit_meta
    import fcntl as _fcntl
except ImportError:  # pragma: no cover
    _fcntl = None


class ConcurrentWriteConflict(RuntimeError):
    """Another writer committed this store since the losing writer read
    its meta. The store is NOT corrupted — the winner's commit stands
    untouched. Recovery is the read-recompute-retry loop every
    meta-rewriting path already supports: re-invoke the same operation
    (tagged appends/deletes are replay-exact, so the same ``batch_tag``
    is safe) and it recomputes against the winner's committed state."""


def read_meta(path: str) -> dict:
    """Load the committed meta; FileNotFoundError = uncommitted store."""
    with open(os.path.join(path, "meta.json")) as fh:
        return json.load(fh)


def _max_version(path: str) -> int:
    """Highest version number reserved under ``_versions/`` (0 when the
    ledger does not exist — pre-versioning store or fresh path)."""
    vdir = os.path.join(path, "_versions")
    if not os.path.isdir(vdir):
        return 0
    vs = [
        int(f[:-5])
        for f in os.listdir(vdir)
        if f.endswith(".json") and f[:-5].isdigit()
    ]
    return max(vs, default=0)


def _committed_frontier(path: str) -> int:
    """The committed version frontier: meta.json's version, or — when a
    rebuild/compaction has retracted meta.json — the frontier marker
    ``retract_meta`` wrote. 0 for a fresh path, a pre-versioning store,
    or a store retracted before the marker existed."""
    try:
        return int(read_meta(path).get("version", 0))
    except FileNotFoundError:
        pass
    marker = os.path.join(path, "_versions", "_frontier.json")
    try:
        with open(marker) as fh:
            return int(json.load(fh).get("frontier", 0))
    except FileNotFoundError:
        return 0


def commit_meta(
    path: str, meta: dict, rewrite: bool = False, bookkeeping: bool = False
) -> None:
    """Atomically publish ``meta.json`` — the commit point — and stamp
    the commit into the monotonically-versioned ledger
    ``_versions/<n>.json`` (optimistic concurrency + snapshot reads).

    Versioning: the writer's expected base is the ``version`` its meta
    carries (stamped by the ``read_meta`` → mutate → ``commit_meta``
    cycle; absent for a fresh build or a pre-versioning store, where
    the on-disk ledger max is the base). The commit first RESERVES
    ``_versions/<base+1>.json`` with an exclusive create: if the file
    already exists and the committed frontier (meta.json's version) has
    reached it, another writer won the race and this commit raises
    :class:`ConcurrentWriteConflict` — the accidental-concurrent-writer
    case every store family documents as unsupported now fails loudly
    instead of silently losing one writer's meta deltas. A reservation
    BELOW the committed frontier-to-be is a crashed writer's leftover
    and is reclaimed atomically. On a POSIX filesystem the whole
    reserve→publish sequence additionally runs under an exclusive
    ``flock`` on ``_versions/.occ.lock`` (r12 VERDICT item 8): two
    LIVE writers racing the same base serialize — the loser re-checks
    the frontier after the winner's publish and raises — while a
    crashed holder's lock releases with its process, so no dead-lock
    sweep is ever needed. Where flock is unavailable (object-store
    mounts), detection degrades to the reservation race it had before;
    an object-store deployment makes the reservation a put-if-absent
    and gets true CAS semantics from the same shape.

    meta.json's atomic replace remains THE commit point — a crash
    after the reservation but before the replace leaves the store on
    its old committed version, exactly as before. fsync before the
    rename, and of the directory after: without them a power loss can
    journal the rename ahead of the data blocks (ext4 semantics) and
    publish an EMPTY meta.json — a store that is neither readable nor
    clearly uncommitted.

    This is also the backfill for a store written before its family
    gained a marker: validate the store once, then ``commit_meta`` the
    appropriate meta by hand — readers only check the marker's
    presence."""
    os.makedirs(path, exist_ok=True)
    expected = meta.get("version")
    fresh = expected is None
    if fresh:
        # fresh dict = first build, rebuild, or legacy backfill. Base
        # on the COMMITTED frontier (meta.json, or the marker
        # retract_meta left) so a crashed writer's dead reservation
        # above it is RECLAIMED — skipping past it via the ledger max
        # would leave a never-committed blob below the new frontier,
        # which read_meta_version would then misreport as a commit.
        # _max_version is the fallback for stores retracted before the
        # frontier marker existed.
        expected = _committed_frontier(path)
        if expected == 0:
            expected = _max_version(path)
    new = int(expected) + 1
    # stamp a COPY: the caller's dict must stay at its snapshot version
    # until the reservation succeeds — mutating first would let a
    # caught-and-retried ConcurrentWriteConflict commit the stale
    # deltas on top of the winner (the retry would base on new).
    stamped = dict(meta)
    stamped["version"] = new
    # bookkeeping commits (vacuum's floor advance) are flagged so
    # retention horizons count DATA versions only — otherwise every
    # vacuum run would mint a version that the next run's
    # keep_versions window slides over, eroding retention one version
    # per run until only the frontier is servable. The flag never
    # leaks onto a real writer's next commit: an unflagged commit
    # strips it from the meta it inherited.
    if bookkeeping:
        stamped["vacuum_bookkeeping"] = True
    else:
        stamped.pop("vacuum_bookkeeping", None)
    # rewrite floor: the earliest version whose snapshot files still
    # exist. A fresh-dict commit IS a build/rebuild (the writers'
    # convention), and compactors pass rewrite=True explicitly — either
    # way, data directories were rewritten, so every earlier snapshot's
    # file lists now dangle (or worse, an old 'base' name would resolve
    # to the NEW base manifest — silently wrong rows under old stats).
    # assert_snapshot_servable refuses serves below the floor.
    if rewrite or fresh:
        stamped["rewrite_floor"] = new
    blob = json.dumps(stamped)
    vdir = os.path.join(path, "_versions")
    os.makedirs(vdir, exist_ok=True)
    vpath = os.path.join(vdir, f"{new:020d}.json")
    # Serialize reserve→publish against other LIVE writers on this
    # host (docstring: the flock releases with a crashed process, so
    # it can never become a dead lock itself). Best-effort: where the
    # mount refuses flock, fall through to the bare reservation race.
    lock_fd = None
    if _fcntl is not None:
        try:
            lock_fd = os.open(
                os.path.join(vdir, ".occ.lock"), os.O_CREAT | os.O_RDWR
            )
            _fcntl.flock(lock_fd, _fcntl.LOCK_EX)
        except OSError:  # pragma: no cover - flock-less mount
            if lock_fd is not None:
                os.close(lock_fd)
            lock_fd = None
    try:
        _commit_meta_locked(path, meta, blob, stamped, new, vdir, vpath)
    finally:
        if lock_fd is not None:
            os.close(lock_fd)  # closing releases the flock


def _conflict(path: str, new: int) -> ConcurrentWriteConflict:
    return ConcurrentWriteConflict(
        f"store at {path!r}: version {new} was committed by another "
        "writer since this meta was read — re-run the operation against "
        "the current store"
    )


def _commit_meta_locked(
    path: str,
    meta: dict,
    blob: str,
    stamped: dict,
    new: int,
    vdir: str,
    vpath: str,
) -> None:
    """The reserve→publish body of :func:`commit_meta` — runs under the
    per-store writer flock when the filesystem provides one."""
    if _committed_frontier(path) >= new:
        # a base older than the frontier is stale even when its ledger
        # slot is free: vacuums reclaim ledger files below the frontier,
        # and the exclusive create alone would then let a stale writer
        # publish over the winner
        raise _conflict(path, new)
    try:
        fd = os.open(vpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        # committed frontier: meta.json, or — when a compactor has
        # retracted it — the marker retract_meta wrote. Defaulting a
        # missing meta to 0 here would let a compactor reclaim a LIVE
        # winner's reservation (the winner committed between the
        # compactor's recheck and its retract, and the retract deleted
        # the winner's meta.json).
        committed = _committed_frontier(path)
        if committed >= new:
            # fresh commits included: a rebuild racing a writer that
            # committed past our base must NOT overwrite the winner's
            # committed ledger file and roll the frontier backward —
            # it re-reads the frontier and re-commits above it
            raise _conflict(path, new)
        # dead reservation from a crashed writer (committed < new by
        # the check above): overwrite atomically
        tmp = vpath + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(blob)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, vpath)
    else:
        with os.fdopen(fd, "w") as fh:
            fh.write(blob)
            fh.flush()
            os.fsync(fh.fileno())
    # the ledger file must be durable like everything else: fsync the
    # _versions directory entry, or a power loss can persist a
    # meta.json naming version N whose ledger file was lost (breaking
    # every later as-of read AND the next commit's base arithmetic)
    vfd = os.open(vdir, os.O_RDONLY)
    try:
        os.fsync(vfd)
    finally:
        os.close(vfd)
    # reservation holds: now advance the caller's dict in place (a
    # sequential re-commit by the same holder must base on `new`) —
    # `stamped` IS the committed state, so sync to it exactly
    meta.update(stamped)
    if "vacuum_bookkeeping" not in stamped:
        meta.pop("vacuum_bookkeeping", None)
    meta_path = os.path.join(path, "meta.json")
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(blob)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, meta_path)
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def recheck_version(path: str, meta: dict) -> None:
    """Raise :class:`ConcurrentWriteConflict` if the committed frontier
    moved past the given meta snapshot. Compactors call this right
    before their DESTRUCTIVE step (retract + directory swap): the final
    ``commit_meta`` would catch the same staleness, but only after the
    old directories were destroyed — loudly uncommitted, recoverable,
    yet needing manual repair. Rechecking here makes an abort cost
    nothing but the sibling rewrite. The recheck-to-commit window
    remains covered by ``commit_meta`` itself."""
    cur = int(read_meta(path).get("version", 0))
    if cur != int(meta.get("version", 0)):
        raise ConcurrentWriteConflict(
            f"store at {path!r}: version advanced {meta.get('version')} → "
            f"{cur} while the rewrite ran — aborting before the swap; "
            "re-run against the current store"
        )


def read_meta_version(path: str, version: int) -> dict:
    """The meta snapshot committed as ``version`` — the time-travel
    read. Only versions up to the committed frontier (meta.json's own
    version) are served: a higher number on disk is a crashed writer's
    dead reservation, not a commit. Snapshot reads stay exact while the
    snapshot's files survive — compaction and rebuilds rewrite data
    directories, and :func:`vacuum_store` reclaims a retention horizon
    explicitly; either way OLDER snapshots invalidate (the Delta
    VACUUM trade; the ledger keeps the metas readable either way —
    below-floor metas folded by a ledger prune resolve from the
    checkpoint)."""
    frontier = int(read_meta(path).get("version", 0))
    v = int(version)
    if not (1 <= v <= frontier):
        raise ValueError(
            f"version {v} not in this store's committed range 1..{frontier}"
        )
    return _read_ledger_meta(path, v)


def assert_snapshot_servable(path: str, snap_meta: dict) -> None:
    """Refuse to SERVE a snapshot whose data files were rewritten by a
    later compaction/rebuild (the commit's ``rewrite_floor``). Without
    this, a pre-compaction snapshot naming only 'base' would resolve
    the NEW base manifest — rewritten rows under the old stats,
    silently wrong — and one naming batch manifests would die on a
    missing-manifest open. Meta HISTORY stays readable either way
    (``read_meta_version`` is not guarded — audit use)."""
    floor = int(read_meta(path).get("rewrite_floor", 0))
    v = int(snap_meta.get("version", 0))
    if v < floor:
        raise ValueError(
            f"snapshot version {v} predates the last rewrite "
            f"(compaction/rebuild) at version {floor} — its files were "
            "rewritten; only versions >= the floor are servable"
        )


def resolve_serve_meta(path: str, version: "int | None") -> dict:
    """The ONE way a serve path resolves its meta snapshot: the live
    committed meta when ``version`` is None, else the requested ledger
    version gated by :func:`assert_snapshot_servable`. Centralized so
    as-of semantics (range check, servability floor) cannot drift
    between the store families."""
    if version is None:
        return read_meta(path)
    meta = read_meta_version(path, version)
    assert_snapshot_servable(path, meta)
    return meta


def _read_ledger_checkpoint(path: str) -> "dict | None":
    """The ledger checkpoint INDEX (``_versions/_checkpoint.json``),
    or None. A ``vacuum_store(prune_ledger=True)`` pass folds every
    meta BELOW the servability floor out of the per-commit files — the
    Delta log-checkpoint shape — so a year of micro-batch commits
    stops being ~10^5 tiny files listed on every
    :func:`list_versions` call. The checkpoint is SPLIT: this index is
    just ``{"through", "versions"}`` (a number array — all enumeration
    needs), while the folded meta BODIES live in the sibling
    ``_checkpoint_metas.json`` read only by the audit path
    (:func:`read_meta_version` on a folded version). The split
    matters: metas carry cumulative manifest lists (meta v names v
    manifests), so a one-file checkpoint is O(commits^2) bytes parsed
    on EVERY enumeration — measured 0.25 → 2.13 ms at just 120 folded
    commits. Serves below the floor keep refusing via
    :func:`assert_snapshot_servable` exactly as before."""
    f = os.path.join(path, "_versions", "_checkpoint.json")
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        return json.load(fh)


def _read_ledger_meta(path: str, v: int) -> dict:
    """One committed meta: the live ``_versions/<v>.json`` file, else
    the checkpoint fold in ``_checkpoint_metas.json`` (post-prune
    audit read — rare, so the big-file parse is paid only here).
    FileNotFoundError only when a version is in neither — genuine
    ledger corruption, never routine."""
    f = os.path.join(path, "_versions", f"{int(v):020d}.json")
    try:
        with open(f) as fh:
            return json.load(fh)
    except FileNotFoundError:
        mfile = os.path.join(path, "_versions", "_checkpoint_metas.json")
        if os.path.exists(mfile):
            with open(mfile) as fh:
                m = json.load(fh).get("metas", {}).get(str(int(v)))
            if m is not None:
                return m
        raise


def list_versions(path: str) -> "list[int]":
    """Committed version numbers, ascending (the readable time-travel
    range — dead reservations above the frontier are excluded).
    Includes checkpoint-folded versions (their metas stay readable via
    :func:`read_meta_version`), so a ledger prune never shrinks the
    audit range — only the file count."""
    frontier = int(read_meta(path).get("version", 0))
    vdir = os.path.join(path, "_versions")
    if not os.path.isdir(vdir):
        return []
    vs = {
        int(f[:-5])
        for f in os.listdir(vdir)
        if f.endswith(".json") and f[:-5].isdigit() and int(f[:-5]) <= frontier
    }
    cp = _read_ledger_checkpoint(path)
    if cp is not None:
        vs.update(v for v in cp.get("versions", []) if v <= frontier)
    return sorted(vs)


def vacuum_store(
    path: str,
    keep_versions: int = 1,
    spark=None,
    protect_version: "int | None" = None,
    prune_ledger: bool = False,
) -> dict:
    """Retention-horizon GC for a manifest-pointer store (r10 VERDICT
    item 3 — the Delta VACUUM shape): advance the servability floor to
    the oldest of the newest ``keep_versions`` committed versions, then
    delete every on-disk parquet under the store's manifest-tracked
    roots that NO floor-or-newer version references. As-of reads below
    the new floor refuse loudly afterwards (the rewrite_floor refusal
    machinery); floor-or-newer snapshots keep serving byte-identically
    — their manifests only name surviving files.

    What this reclaims per family: in an append-only lineage the
    manifest lists are cumulative (old ⊆ new), so the dead set is
    crash debris — files a crashed append published that no committed
    manifest ever named, and manifest JSONs no retained meta
    references. The directory-granular reclaim of genuinely dead
    version data lives with the COW ledger
    (``sources.versioned.VersionedKVStore.vacuum``), whose versions
    carry disjoint file sets. Passing ``spark`` additionally GC's a
    flat sidecar store's ``data/`` directory (zone-map / bloom): live
    data files are the ones the retained sidecar rows name.

    Ordering (crash-safe): the floor advance COMMITS first — readers
    refuse vacuumed versions before any file disappears — then files
    are deleted; a crash in between leaves dead-but-present files and
    a re-run is idempotent. Single-writer maintenance op, same
    contract as the compactors (a concurrent append racing the delete
    pass could lose just-published, not-yet-committed files; its
    replay republishes them exactly).

    Every pass also folds checkpoint-namespaced stream replay tags in
    ``applied`` into per-namespace watermarks
    (:func:`fold_applied_watermarks`) — the meta-size analog of the
    ledger checkpoint below: without it a year of micro-batch ingest
    parses a ~10^5-string replay list on every ``read_meta``. The fold
    commits even when the floor is at rest (its own bookkeeping
    commit), and only on manifest-pointer stores — the n-gram count
    store's ``applied`` doubles as its live-directory pointer and
    folds at its own compaction instead.

    ``prune_ledger=True`` additionally CHECKPOINTS the version ledger
    below the (post-advance) floor: every ``_versions/<v>.json`` with
    v < floor folds into the checkpoint pair — the big meta bodies in
    ``_checkpoint_metas.json`` (audit reads only), the tiny version
    index in ``_checkpoint.json`` (what enumeration parses; see
    :func:`_read_ledger_checkpoint` for why the split matters) — and
    the per-version files are unlinked, Delta's log checkpointing.
    Without it the ledger grows one tiny JSON per commit FOREVER (a
    year of micro-batch streaming commits is ~10^5 files listed on
    every ledger read). Semantics are unchanged:
    :func:`list_versions` still reports the folded range,
    :func:`read_meta_version` still reads folded metas (audit), and
    below-floor SERVES still refuse with the same rewrite-floor
    message. Checkpoint-then-unlink ordering makes a crash in between
    harmless (both copies readable; the re-run re-folds).

    Returns ``{"floor": int, "removed_files": [...],
    "removed_manifests": [...], "removed_tombstones": [...]}`` plus
    ``"pruned_ledger"`` (folded version numbers, prune_ledger only)
    and ``"data_gc"`` (flat sidecar stores only — "done", or a loud
    "skipped …" note when no ``spark`` was passed, so a bare
    ``vacuum_store(path)`` on a zonemap/bloom store can't silently
    reclaim less than the caller expects)."""
    meta = read_meta(path)
    versions = list_versions(path)
    if not versions:
        raise ValueError(f"store at {path!r} has no committed ledger")
    kv = max(1, int(keep_versions))
    # retention counts DATA versions only: a prior vacuum's
    # floor-advance commit is bookkeeping, and counting it would slide
    # the keep_versions window forward on every run (daily vacuum +
    # infrequent commits would erode the horizon to the frontier).
    # Direct ledger reads — list_versions already bounded the range to
    # the committed frontier, and read_meta_version would re-open
    # meta.json per call (O(2N) opens on a year of streaming commits —
    # r11 review finding). Checkpoint-aware: versions a prior prune
    # folded have no per-commit file — their metas are never needed
    # here (they sit below the old floor, so they can't be retained,
    # and their files are already gone), so vacuum deliberately never
    # parses the big _checkpoint_metas.json.
    metas = {}
    vdir = os.path.join(path, "_versions")
    old_floor = int(meta.get("rewrite_floor", 0))
    # Below-floor metas are never needed: retention can't keep them
    # (new_floor clamps to the old floor) and their classification
    # can't move the horizon past the clamp — so skip them OUTRIGHT
    # instead of attempting ~10^5 guaranteed-failed opens on a
    # checkpoint-folded ledger (r12 ADVICE: the folded range is below
    # the floor by construction, as the retention note says).
    for v in versions:
        if v < old_floor:
            continue
        try:
            with open(os.path.join(vdir, f"{v:020d}.json")) as fh:
                metas[v] = json.load(fh)
        except FileNotFoundError:
            pass  # raced by a concurrent prune: same below-floor case
    # Folded versions count as data versions here: they only influence
    # the horizon when keep_versions exceeds the above-floor count, and
    # then new_floor clamps to the old floor either way.
    data_versions = [
        v
        for v in versions
        if v not in metas or not metas[v].get("vacuum_bookkeeping")
    ] or versions
    horizon = (
        data_versions[-kv] if kv <= len(data_versions) else data_versions[0]
    )
    # ``protect_version`` caps the floor advance: retention never
    # passes a version an operator still needs servable — the
    # snapshot-pin integration (functions/snapshots.py
    # vacuum_respecting_pins feeds the oldest pinned version here), so
    # a routine keep_versions=N pass cannot silently break a
    # training-run pin. Everything at/above the cap stays servable.
    if protect_version is not None:
        horizon = min(horizon, int(protect_version))
    new_floor = max(horizon, old_floor)
    kept = [metas[v] for v in versions if v >= new_floor]
    # resolve the retained file set BEFORE committing the floor: a
    # retained pre-manifest meta (legacy store) cannot enumerate its
    # files, so GC would be guessing — refuse instead
    roots: "list[tuple[str, str]]" = []
    for key, sub in (
        ("manifests", "postings"),
        ("manifests", "zones"),
        ("manifests", "bloom"),
        ("manifests", "vectors"),
        ("manifests", "codes"),
        ("dl_manifests", "doclen"),
        ("sk_manifests", "sketches"),
        ("vec_manifests", "vectors"),
    ):
        if meta.get(key) is not None and os.path.isdir(os.path.join(path, sub)):
            roots.append((key, sub))
    live: "dict[str, set]" = {}
    kept_manifest_names: set = set()
    for key, sub in roots:
        files: set = set()
        for m in kept:
            names = m.get(key)
            if names is None:
                raise ValueError(
                    f"retained version {m.get('version')} predates the "
                    f"manifest pointer ({key}) — cannot enumerate its "
                    "files; vacuum would be guessing. Rebuild first."
                )
            kept_manifest_names.update(names)
            files.update(resolve_manifest_files(path, {"manifests": names}))
        live[sub] = files
    # Fold checkpoint-namespaced stream tags into per-namespace
    # watermarks (r14): continuous tagged ingest otherwise grows
    # `applied` one entry per micro-batch FOREVER — a year of
    # streaming leaves a ~10^5-string list parsed on every read_meta.
    # Post-fold the list holds operator tags only; the replay check
    # (tag_is_applied) consults the watermark for stream tags. Gated
    # to manifest-pointer stores (roots non-empty): there `applied` is
    # a pure replay ledger, whereas the n-gram count store's list ALSO
    # names its live counts_tagged/ directories — that family folds at
    # its own compaction, where the directories are merged away too.
    # Rides the same commit as the floor advance when there is one,
    # its own bookkeeping commit otherwise.
    folded_applied = fold_applied_watermarks(meta) if roots else 0
    # ---- commit point: floor advances before anything is deleted ----
    if new_floor > old_floor:
        meta["rewrite_floor"] = new_floor
        # retired manifest names whose files this vacuum reclaims can
        # leave the collision ledger — nothing servable references
        # them anymore, so a future tag reusing the name writes a
        # fresh, unreferenced manifest (harmless by construction)
        if "retired_manifests" in meta:
            meta["retired_manifests"] = sorted(
                set(meta["retired_manifests"]) & kept_manifest_names
            )
    if new_floor > old_floor or folded_applied:
        commit_meta(path, meta, bookkeeping=True)
        # the fresh commit's meta is retained by construction; fold its
        # (identical) manifest names in for the manifest GC below
        for key, _sub in roots:
            kept_manifest_names.update(meta.get(key) or [])
    removed: "list[str]" = []
    for _key, sub in roots:
        root = os.path.join(path, sub)
        for rel in list_parquet_files(root):
            if rel not in live[sub]:
                os.remove(os.path.join(root, rel))
                removed.append(f"{sub}/{rel}")
    # flat sidecar stores: data files are named by the sidecar rows
    data_dir = os.path.join(path, "data")
    data_gc: "str | None" = None
    if os.path.isdir(data_dir) and any(
        sub in ("zones", "bloom") for _key, sub in roots
    ):
        # visible either way: "done", or a loud skip note — a bare
        # vacuum_store(path) on a zonemap/bloom store reclaims LESS
        # than the caller may expect (r11 VERDICT item 6)
        data_gc = (
            "done"
            if spark is not None
            else "skipped — no spark session; pass spark= to GC the "
            "flat sidecar store's data/ directory"
        )
    if spark is not None and os.path.isdir(data_dir):
        for _key, sub in roots:
            if sub not in ("zones", "bloom"):
                continue
            side_files = [
                os.path.join(path, sub, f) for f in sorted(live[sub])
            ]
            if not side_files:
                continue
            live_data = {
                r[0]
                for r in spark.read.parquet(*side_files)
                .select("file")
                .distinct()
                .collect()
            }
            for rel in list_parquet_files(data_dir):
                if rel not in live_data:
                    os.remove(os.path.join(data_dir, rel))
                    removed.append(f"data/{rel}")
    removed_manifests: "list[str]" = []
    mdir = os.path.join(path, "_manifests")
    if roots and os.path.isdir(mdir):
        for f in sorted(os.listdir(mdir)):
            if not f.endswith(".json"):
                continue
            if f[:-5] not in kept_manifest_names:
                os.remove(os.path.join(mdir, f))
                removed_manifests.append(f[:-5])
    # tombstone batches no retained version names (a snapshot-preserving
    # OPTIMIZE zeroes the delete ledger while the physical dirs stay for
    # the older snapshots — once those fall below the floor, the dirs
    # are dead); shared layout across the postings/IVF/IVFPQ/binary
    # families: tombstones/<tag> named by meta["deletes"]
    removed_tombstones: "list[str]" = []
    tdir = os.path.join(path, "tombstones")
    if os.path.isdir(tdir):
        import shutil as _sh

        kept_tags = set(meta.get("deletes", []))
        for m in kept:
            kept_tags.update(m.get("deletes", []))
        for t in sorted(os.listdir(tdir)):
            if t not in kept_tags:
                _sh.rmtree(os.path.join(tdir, t), ignore_errors=True)
                removed_tombstones.append(t)
    out = {
        "floor": new_floor,
        "removed_files": removed,
        "removed_manifests": removed_manifests,
        "removed_tombstones": removed_tombstones,
        "folded_applied": int(folded_applied),
    }
    if data_gc is not None:
        out["data_gc"] = data_gc
    if prune_ledger:
        # fold every per-version file BELOW the floor into the
        # checkpoint pair (big metas body + tiny index), then unlink.
        # The frontier commit (meta.json + its _versions twin) is
        # always >= floor, so the OCC exclusive-create arithmetic
        # (_max_version) never loses its high-water mark. Ordering:
        # durable metas body FIRST, then the index (the commit point
        # for enumeration), unlink last — a crash at any seam leaves
        # every copy readable and the re-run is idempotent (the
        # per-version file wins over the fold in _read_ledger_meta).
        fold = {
            str(v): metas[v]
            for v in versions
            if v < new_floor and v in metas
        }
        # Straggler sweep (r14): a compaction/rebuild's rewrite=True
        # commit advances the floor WITHOUT pruning, so versions that
        # were above the floor at the last prune but below it now have
        # file-backed entries that `metas` deliberately skipped (the
        # r12 no-failed-opens rule assumed below-floor ⇒ already
        # folded). Without this sweep those files are immortal — under
        # a compact_every + vacuum_every composition the ledger grows
        # one orphan per compaction forever. Only versions ABOVE the
        # existing checkpoint's `through` can be file-backed, so the
        # sweep opens exactly the stragglers, never the folded range.
        ck = _read_ledger_checkpoint(path)
        through = int(ck["through"]) if ck else 0
        for v in versions:
            if v >= new_floor or str(v) in fold or v <= through:
                continue
            f = os.path.join(vdir, f"{v:020d}.json")
            try:
                with open(f) as fh:
                    fold[str(v)] = json.load(fh)
            except FileNotFoundError:
                pass  # raced by a concurrent prune
        pruned: "list[int]" = []
        if fold:
            def _durable_json(payload: dict, name: str) -> None:
                tmp = os.path.join(vdir, name + ".tmp")
                with open(tmp, "w") as fh:
                    json.dump(payload, fh)
                    fh.flush()
                    os.fsync(fh.fileno())
                os.replace(tmp, os.path.join(vdir, name))

            mfile = os.path.join(vdir, "_checkpoint_metas.json")
            merged: dict = {}
            if os.path.exists(mfile):
                with open(mfile) as fh:
                    merged = json.load(fh).get("metas", {})
            merged.update(fold)
            _durable_json({"metas": merged}, "_checkpoint_metas.json")
            _durable_json(
                {
                    "through": new_floor - 1,
                    "versions": sorted(map(int, merged)),
                },
                "_checkpoint.json",
            )
            dfd = os.open(vdir, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
            for v in sorted(map(int, fold)):
                os.remove(os.path.join(vdir, f"{v:020d}.json"))
                pruned.append(v)
        out["pruned_ledger"] = pruned
    return out


def retract_meta(path: str) -> None:
    """Unlink the commit marker before rebuilding over an existing
    store (module docstring). No-op on a fresh path.

    Before unlinking, the committed frontier is preserved in
    ``_versions/_frontier.json`` so the ledger arithmetic survives the
    retracted window: the rebuild's fresh commit bases on it (reclaiming
    any dead reservation above it instead of skipping past), and a
    carried-version commit racing the retract still sees the true
    frontier for its conflict check."""
    p = os.path.join(path, "meta.json")
    if not os.path.exists(p):
        return
    try:
        frontier = int(read_meta(path).get("version", 0))
    except Exception:
        frontier = 0
    if frontier:
        vdir = os.path.join(path, "_versions")
        os.makedirs(vdir, exist_ok=True)
        marker = os.path.join(vdir, "_frontier.json")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"frontier": frontier}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, marker)
        # the marker must be durable BEFORE the unlink below can be:
        # without the directory fsync a power loss can journal the
        # meta.json removal (and the rebuild's later writes) while
        # dropping the marker's directory entry — exactly the
        # dead-reservation misreport the marker exists to prevent
        vfd = os.open(vdir, os.O_RDONLY)
        try:
            os.fsync(vfd)
        finally:
            os.close(vfd)
    os.remove(p)
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


# --------------------------------------------------------------------- #
# Manifest-pointer commit: closes the read-uncommitted window an
# in-place file layout has (files published, meta not yet rewritten →
# a concurrent reader sees new rows with pre-batch global stats).
# Readers resolve the file LIST from the same atomic meta read that
# gives them the stats: meta["manifests"] names the committed batch
# manifests (one JSON file list each under _manifests/), and files on
# disk that no committed manifest names are simply invisible. On an
# object store the manifest write + meta swap is the whole commit —
# no rename fan-out — which is why Delta/Iceberg use the same shape.
# --------------------------------------------------------------------- #


def list_parquet_files(root: str) -> "list[str]":
    """Relative paths of every ``*.parquet`` under ``root`` (sorted,
    '/'-separated), recursing through hive partition directories but
    never into staging/manifest bookkeeping."""
    out: list[str] = []
    if not os.path.isdir(root):
        return out
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith("_")]
        for f in filenames:
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                out.append(rel.replace(os.sep, "/"))
    return sorted(out)


def write_manifest(path: str, name: str, files: "list[str]") -> None:
    """Durably publish ``_manifests/<name>.json`` (same tmp → fsync →
    rename discipline as the meta commit). NOT the commit point: the
    manifest only becomes visible once a committed meta lists its name,
    so overwriting a crashed replay's manifest is always safe."""
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir, exist_ok=True)
    mpath = os.path.join(mdir, name + ".json")
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"files": sorted(files)}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, mpath)
    dfd = os.open(mdir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def resolve_manifest_files(path: str, meta: dict) -> "list[str] | None":
    """The committed file list: union of the manifests the given meta
    names, in manifest order (relative to the store's data root).
    ``None`` for a pre-manifest store — the caller falls back to
    directory listing, accepting the legacy window."""
    names = meta.get("manifests")
    if names is None:
        return None
    files: list[str] = []
    for name in names:
        with open(os.path.join(path, "_manifests", name + ".json")) as fh:
            files.extend(json.load(fh)["files"])
    return files


def sweep_tagged_files(dirpath: str, batch_tag: str) -> None:
    """Delete exactly ``batch-<tag>-NNNNN.parquet`` files in the FLAT
    directory ``dirpath`` — the undo step that makes re-publishing a
    crashed (uncommitted) batch exact. Exact-name match, not a string
    prefix, for the same reason as the postings sweep (a prefix sweep
    for tag ``b1`` would also delete committed tag ``b1-2``'s files)."""
    import re as _re

    if not os.path.isdir(dirpath):
        return
    pat = _re.compile(rf"^batch-{_re.escape(batch_tag)}-\d+\.parquet$")
    for f in os.listdir(dirpath):
        if pat.fullmatch(f):
            os.remove(os.path.join(dirpath, f))


def publish_staged_flat(stage: str, dirpath: str, batch_tag: str) -> "list[str]":
    """Move staged parquet files into the FLAT live directory
    ``dirpath`` under deterministic ``batch-<tag>-NNNNN`` names;
    returns the published basenames for the batch's manifest. The
    moves publish NOTHING to readers — only the later meta commit
    naming the manifest does (postings `_publish_staged`, flat-layout
    form; an object-store deployment replaces renames with copy +
    the same manifest swap)."""
    os.makedirs(dirpath, exist_ok=True)
    seq = 0
    published: "list[str]" = []
    for f in sorted(os.listdir(stage)):
        if not f.endswith(".parquet"):
            continue
        name = f"batch-{batch_tag}-{seq:05d}.parquet"
        os.replace(os.path.join(stage, f), os.path.join(dirpath, name))
        published.append(name)
        seq += 1
    return published


def cleanup_flat_staging(path: str, batch_tag: str) -> None:
    """Remove a tag's staging dir (post-commit, or before a replay)."""
    import shutil

    stage = os.path.join(path, "_staging", batch_tag)
    if os.path.isdir(stage):
        shutil.rmtree(stage, ignore_errors=True)


def append_flat_store_batch(
    path: str,
    batch_tag: "str | None",
    write_batch,
    build_sidecar,
    sidecar_sub: str,
) -> bool:
    """The staged manifest-pointer append for flat-layout sidecar
    stores (zone-map, bloom) — ONE copy of the commit/replay state
    machine so a protocol fix lands everywhere at once.

    ``write_batch(dest_dir, mode)`` writes the batch's parquet;
    ``build_sidecar(abs_data_files) -> DataFrame`` derives the sidecar
    rows for exactly the published files. Flow: replay check → legacy
    'base' manifest backfill (a pre-manifest store's sidecar listing
    IS the committed base — single-writer, so backfilling it before
    the append is exact; without this, committing a meta that names a
    never-written manifest would brick every later read) → stage/sweep/
    deterministic publish (or direct append for untagged batches) →
    sidecar rows → ``_manifests/<tag>.json`` → atomic meta commit
    naming manifest + tag. Crash anywhere before the commit leaves
    stray files no manifest names — invisible; replay is exact."""
    if batch_tag is not None:
        validate_batch_tag(batch_tag)
    meta = read_meta(path)
    applied = meta.setdefault("applied", [])
    if tag_is_applied(meta, batch_tag):
        cleanup_flat_staging(path, batch_tag)
        return False
    if batch_tag is not None:
        # retired names (an optimize moved them off the live list while
        # older servable snapshots still reference their manifest
        # files) and reserved prefixes refuse BEFORE any write — the
        # partitioned twin's discipline (r11 review finding: without
        # this, a post-optimize tag could overwrite a manifest a
        # retained snapshot resolves)
        refuse_manifest_collision(meta, batch_tag)
    side_dir = os.path.join(path, sidecar_sub)
    manifests = meta.get("manifests")
    if manifests is None:
        # Sweep THIS tag's published sidecar files before the listing
        # becomes 'base': a tagged append that crashed between publish
        # and commit left batch-<tag>-* sidecar files on disk, and
        # backfilling them into 'base' would count them twice once the
        # deterministic republish puts the same names into the tag's
        # own manifest (committed files never match the swept names —
        # other tags carry their own tag, base-build files carry Spark
        # part-* names).
        if batch_tag is not None:
            sweep_tagged_files(side_dir, batch_tag)
        write_manifest(path, "base", list_parquet_files(side_dir))
        manifests = meta["manifests"] = ["base"]
        # re-run the refusal now that the backfilled name exists (the
        # partitioned twin's post-backfill re-check): a legacy tag of
        # 'base' would otherwise overwrite the backfill below
        if batch_tag is not None:
            refuse_manifest_collision(meta, batch_tag)
    data_dir = os.path.join(path, "data")
    if batch_tag is None:
        pre = set(list_parquet_files(data_dir))
        write_batch(data_dir, "append")
        new_files = sorted(set(list_parquet_files(data_dir)) - pre)
        # an optimize collapses the live list to one name, so
        # len(manifests) alone would re-mint a RETIRED anon name and
        # overwrite a manifest retained snapshots still reference
        mname = f"anon-{len(manifests):05d}"
        taken = _taken_manifest_names(meta)
        while mname in taken:
            mname += "x"
    else:
        stage = os.path.join(path, "_staging", batch_tag)
        write_batch(stage, "overwrite")
        sweep_tagged_files(data_dir, batch_tag)
        new_files = publish_staged_flat(stage, data_dir, batch_tag)
        mname = batch_tag
    if mname in _taken_manifest_names(meta):
        # belt-and-braces re-check of the refusals above
        raise ValueError(f"batch_tag {mname!r} collides with a manifest")
    if new_files:
        side_rows = build_sidecar(
            [os.path.join(data_dir, f) for f in new_files]
        ).coalesce(1)
        if batch_tag is None:
            pre_s = set(list_parquet_files(side_dir))
            side_rows.write.mode("append").parquet(side_dir)
            new_side = sorted(set(list_parquet_files(side_dir)) - pre_s)
        else:
            # tagged sidecar files publish under deterministic
            # batch-<tag>-* names (same discipline as the data files)
            # so a crashed replay's strays are sweepable by name — the
            # append-mode random part-* names they used to get made
            # them indistinguishable from committed files in the
            # legacy 'base' backfill above. Staged inside the tag's
            # own staging dir (already emptied of data parquet by
            # publish_staged_flat) so no second tag can collide with
            # the stage path, and cleanup removes both in one rmtree.
            sstage = os.path.join(stage, "sidecar")
            side_rows.write.mode("overwrite").parquet(sstage)
            sweep_tagged_files(side_dir, batch_tag)
            new_side = publish_staged_flat(sstage, side_dir, batch_tag)
    else:
        new_side = []  # empty batch: the manifest records nothing
    write_manifest(path, mname, new_side)
    manifests.append(mname)
    if batch_tag is not None:
        applied.append(batch_tag)
    commit_meta(path, meta)  # <-- commit point
    if batch_tag is not None:
        cleanup_flat_staging(path, batch_tag)
    return True


def committed_tombstones(spark, path: str, meta: dict, id_col: str, id_type):
    """Union of the committed tombstone batches under ONE meta snapshot
    (None when the store has no applied deletes), cast to the STORE's
    id type. Takedown-batch sized — callers broadcast it into an
    anti-join. ``id_type`` comes from a frame the caller already has in
    hand (never a fresh schema-inference scan of the store)."""
    from pyspark.sql import functions as F

    tags = meta.get("deletes", [])
    if not tags:
        return None
    return (
        spark.read.parquet(
            *[os.path.join(path, "tombstones", t) for t in tags]
        )
        .select(F.col(id_col).cast(id_type).alias(id_col))
        .distinct()
    )


def normalize_tombstone_ids(spark, ids, id_col: str, id_type):
    """ONE copy of the typed-tombstone id normalization every delete
    path shares: iterable-or-DataFrame in, a distinct-ready frame of
    the STORE's id type out. An EMPTY batch becomes a typed empty frame
    (the caller still commits its tag — replay stays a no-op); an id
    that does not cast refuses loudly (try_cast + null check — a NULL
    id would anti-join nothing and report success while deleting
    nothing, and under ANSI mode a plain cast would throw a raw
    execution error before any loud check ran)."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(ids, DataFrame):
        tomb = ids.select(F.col(ids.columns[0]).alias(id_col))
    else:
        rows = [(i,) for i in ids]
        if not rows:
            tomb = spark.createDataFrame(
                [], T.StructType([T.StructField(id_col, id_type)])
            )
        else:
            tomb = spark.createDataFrame(rows, [id_col])
    tomb = tomb.dropna().select(
        F.col(id_col).try_cast(id_type).alias(id_col)
    )
    if tomb.where(F.col(id_col).isNull()).take(1):
        raise ValueError(
            f"delete ids do not cast to the store's "
            f"{id_type.simpleString()} {id_col} — refusing a delete "
            "that could silently miss"
        )
    return tomb


def tombstone_delete(
    spark, path: str, ids, batch_tag: str, id_col: str, id_type
) -> bool:
    """ONE copy of the meta-committed tombstone-delete protocol the
    vector-store families share (IVF vectors, IVFPQ codes, binary
    sketches — reference delete(ks), IndexedRDD.scala:120-123, at
    rest). Returns False (replay no-op) when ``batch_tag`` was already
    applied.

    The tombstone parquet lands under ``tombstones/<tag>`` first —
    INVISIBLE, because readers resolve the tombstone set from the tags
    a committed meta names — then one atomic (OCC-versioned) meta
    rewrite records the tag; a crash before it leaves the delete
    unapplied and the replay's overwrite is exact. ``ids`` is an
    iterable or one-column DataFrame (normalize_tombstone_ids rules:
    empty batches still commit their tag, uncastable ids refuse
    loudly). ``id_type`` may be a DataType or a ZERO-ARG CALLABLE
    returning one — callers whose type resolution costs a schema scan
    pass the callable so a REPLAYED tag (the common at-least-once
    path) returns False before any store read happens."""
    validate_batch_tag(batch_tag)
    meta = read_meta(path)
    if batch_tag in meta.get("deletes", []):
        return False
    if callable(id_type):
        id_type = id_type()
    tomb = normalize_tombstone_ids(spark, ids, id_col, id_type)
    tomb.write.mode("overwrite").parquet(
        os.path.join(path, "tombstones", batch_tag)
    )
    meta.setdefault("deletes", []).append(batch_tag)
    commit_meta(path, meta)
    return True


def checkpoint_namespace(checkpoint_dir: "str | None") -> str:
    """The Structured Streaming checkpoint's query id (first 12 hex
    chars of the ``metadata`` file Spark writes at query start), or ""
    when unavailable. Batch ids are monotonic only PER CHECKPOINT, so
    this is the namespace replay tags need: a stream restarted against
    the same store with a FRESH checkpoint resets batch ids to 0, and
    an un-namespaced tag ledger would silently no-op that genuinely
    new data as a "replay" of another run's batches (the r13 ADVICE
    hazard on the versioned KV store — present on every tag-ledger
    writer until r14). Stable across restarts of the SAME checkpoint;
    fresh for a new one; "" (legacy un-namespaced tags) when the
    metadata is unreadable — e.g. a non-local checkpoint store this
    code cannot open, or a direct foreach_batch call outside a real
    streaming query."""
    if not checkpoint_dir:
        return ""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            return json.load(fh)["id"].replace("-", "")[:12]
    except Exception:
        return ""


class StreamTagMixin:
    """Per-checkpoint replay-tag derivation shared by every streaming
    store writer (postings, zonemap, bloom, binary, counts): ``attach``
    records the checkpoint dir, ``_stream_tag`` namespaces the batch
    id by the checkpoint's query id once the query is running, and
    ``_legacy_applied`` is the cross-upgrade redelivery guard (a
    pre-namespace run committed the bare id — its redelivery must stay
    a no-op even though the new code would tag it differently).

    Direct ``foreach_batch`` calls outside ``attach`` (operator
    scripts, tests) keep the legacy un-namespaced tags — byte-for-byte
    the pre-r14 behavior. Restriction that remains for legacy-history
    stores: a fresh checkpoint's early batch ids collide with the
    un-namespaced tags already in ``applied`` via the legacy guard, so
    such a stream must start past the legacy ids (or the store's
    history must be re-tagged); stores written only by namespaced runs
    have no such restriction."""

    _ckpt_dir: "str | None" = None
    _ns: "str | None" = None

    def _start_stream(
        self, stream_df, checkpoint_dir: str, output_mode: str,
        **trigger_kwargs,
    ):
        self._ckpt_dir = checkpoint_dir
        self._ns = None  # re-derive per attach: checkpoints can change
        return (
            stream_df.writeStream.outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(self.foreach_batch)
            .trigger(**trigger_kwargs)
            .start()
        )

    def _stream_tag(self, legacy_tag: str) -> str:
        if self._ns is None:
            self._ns = checkpoint_namespace(self._ckpt_dir)
        return f"{self._ns}-{legacy_tag}" if self._ns else legacy_tag

    def _legacy_applied(self, path: str, legacy_tag: str) -> bool:
        if not self._ns:
            return False  # legacy tags ARE the tags — append checks them
        try:
            meta = read_meta(path)
        except FileNotFoundError:
            return False
        return legacy_tag in (meta.get("applied") or [])


def validate_batch_tag(batch_tag: str) -> None:
    """Loud error for a tag unusable as a path component / file-name
    segment — ONE copy of the rule every tagged store path shares (a
    '..' or separator tag would write or sweep outside the store)."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", batch_tag):
        raise ValueError(f"invalid batch_tag {batch_tag!r}")


# Checkpoint-namespaced stream tags ONLY: a 12-hex checkpoint query-id
# prefix (checkpoint_namespace), an optional family 'b' marker, a
# numeric batch id. Nothing an operator hand-writes matches (the hex
# prefix + dash is machine-minted), so folding these into watermarks
# can never mis-classify a non-monotonic operator tag as applied.
_STREAM_TAG_RE = None


def _stream_tag_parts(tag: "str | None") -> "tuple[str, int] | None":
    """(stem, batch id) of a checkpoint-namespaced stream tag —
    ``<12-hex-ns>-<id>`` or ``<12-hex-ns>-b<id>`` — else None. The
    stem (namespace + family marker) is the watermark key: batch ids
    are monotonic per checkpoint, which is exactly per stem."""
    global _STREAM_TAG_RE
    if _STREAM_TAG_RE is None:
        import re as _re

        _STREAM_TAG_RE = _re.compile(r"^([0-9a-f]{12}-b?)([0-9]+)$")
    if tag is None:
        return None
    m = _STREAM_TAG_RE.match(tag)
    return (m.group(1), int(m.group(2))) if m else None


def tag_is_applied(meta: dict, batch_tag: "str | None") -> bool:
    """The ONE replay check every tagged append shares: exact member of
    ``applied``, or covered by its checkpoint namespace's folded
    watermark (``applied_watermarks``, r14 — vacuum compacts the
    per-commit stream tags so meta stays O(checkpoints-ever +
    operator-tags), not O(commits-ever). Structured Streaming batch
    ids are monotonic per checkpoint, so any id at/below its OWN
    namespace's watermark was committed; a FRESH checkpoint has a
    fresh namespace and is never covered — the StreamTagMixin
    invariant that makes the fold safe)."""
    if batch_tag is None:
        return False
    if batch_tag in (meta.get("applied") or []):
        return True
    parts = _stream_tag_parts(batch_tag)
    if parts is not None:
        wm = (meta.get("applied_watermarks") or {}).get(parts[0])
        if wm is not None and parts[1] <= int(wm):
            return True
    return False


def fold_applied_watermarks(meta: dict) -> int:
    """Compact every checkpoint-namespaced stream tag in ``applied``
    into its stem's high-water mark, in place; returns how many tags
    folded. Operator tags (anything the 12-hex-ns pattern does not
    match — including every pre-r14 legacy bare-id tag) keep their
    exact entries: only machine-minted monotonic tags are safe to
    summarize. Empty micro-batches never commit, so a watermark may
    cover uncommitted gap ids — their redelivery re-derives the same
    empty batch, so treating them as applied is exact. Callers must
    only fold where ``applied`` is a pure replay ledger (every
    manifest-pointer family); the n-gram count store's list doubles as
    its live-directory pointer and folds only at its compaction."""
    applied = meta.get("applied") or []
    wms = dict(meta.get("applied_watermarks") or {})
    keep = []
    folded = 0
    for t in applied:
        parts = _stream_tag_parts(t)
        if parts is None:
            keep.append(t)
            continue
        stem, bid = parts
        if stem not in wms or bid > int(wms[stem]):
            wms[stem] = bid
        folded += 1
    if folded:
        meta["applied"] = keep
        meta["applied_watermarks"] = wms
    return folded


# Store-internal column names every vector tier writes beside the
# persisted rows. A keep_cols request naming one would pass the
# presence check below, then die later as a confusing
# duplicate-column / ambiguous-reference analysis error inside the
# build write — the deferred failure the loud ValueError exists to
# prevent (r10 ADVICE).
RESERVED_STORE_COLS = frozenset({"cluster_id", "nrm", "sketch", "codes"})


def validate_keep_cols(df, keep_cols, reserved=()) -> None:
    """ONE copy of the build-time keep_cols contract every vector-store
    tier shares (IVF vectors, IVFPQ codes, binary sketches): every
    requested metadata column must exist in the corpus frame, and none
    may collide with a store-internal column — the shared
    :data:`RESERVED_STORE_COLS` set plus the caller's own ``reserved``
    names (each tier passes its id/vector column names)."""
    missing = [c for c in keep_cols if c not in df.columns]
    if missing:
        raise ValueError(f"keep_cols not in corpus frame: {missing}")
    bad = [
        c for c in keep_cols if c in RESERVED_STORE_COLS or c in set(reserved)
    ]
    if bad:
        raise ValueError(
            f"keep_cols collide with store-internal columns: {bad} "
            f"(reserved: {sorted(RESERVED_STORE_COLS | set(reserved))})"
        )


def enforce_store_keep_cols(meta: dict, batch_df, store_df=None):
    """ONE copy of the append-time keep_cols contract: the STORE's
    keep_cols (from meta — never the batch's shape) must all be
    present in the batch, and when ``store_df`` (a frame over the
    store's persisted rows, which the caller usually already has in
    hand) is given, each must match the persisted TYPE — a
    string-typed label appended beside an int-typed store column
    would land silently and fail later as a schema-merge error at the
    next serve scan, the deferred failure the loud refusal exists to
    prevent. Returns the keep_cols tuple for the caller's projection."""
    keep_cols = tuple(meta.get("keep_cols", []) or [])
    missing = [c for c in keep_cols if c not in batch_df.columns]
    if missing:
        raise ValueError(
            f"batch lacks the store's keep_cols {missing} "
            f"(store meta keep_cols={list(keep_cols)})"
        )
    if store_df is not None:
        bad = [
            (c, str(batch_df.schema[c].dataType),
             str(store_df.schema[c].dataType))
            for c in keep_cols
            if batch_df.schema[c].dataType != store_df.schema[c].dataType
        ]
        if bad:
            raise ValueError(
                "batch keep_cols types diverge from the store's: "
                + ", ".join(f"{c}: batch {bt} vs store {st}"
                            for c, bt, st in bad)
            )
    return keep_cols


# --------------------------------------------------------------------- #
# Hive-partitioned manifest-pointer stores (IVF vectors, IVFPQ codes)
# — the partitioned-layout twin of the flat helpers above, and ONE
# copy of the postings store's staged-publish state machine for data
# directories laid out as <root>/<col>=<val>/*.parquet. With these,
# every append is a manifest-named commit, so the version ledger's
# as-of surface covers APPENDS as well as deletes on the vector tiers
# (before r11, ivf_ann_from_store documented "appends are NOT
# versioned away" — direct cluster-dir writes were visible to every
# snapshot).
# --------------------------------------------------------------------- #

# Manifest-name namespaces the stores own internally: dl- (doclen
# sidecars), vec- (the binary store's vector-part twins), anon-
# (untagged appends), optimize- (snapshot-preserving compaction). A
# caller tag in one of these could collide with a name a servable
# snapshot references (postings append docstring).
#
# SCOPED PER FAMILY (r11 ADVICE): only the prefixes a family actually
# MINTS are refused for its callers — dl- is postings-only, vec- is
# binary-store-only. Blanket-refusing the union broke pre-r11
# zonemap/bloom stores whose callers legitimately tagged batches
# 'vec-2024': their restarted streaming queries crashed mid-ledger on
# upgrade. COMMON_RESERVED_PREFIXES is what every family mints;
# families with sidecar twins pass their extra prefix at the call
# site. RESERVED_TAG_PREFIXES (the union) remains for documentation
# and for callers that want the strict pre-r12 behavior.
COMMON_RESERVED_PREFIXES = ("anon-", "optimize-")
RESERVED_TAG_PREFIXES = ("dl-", "vec-") + COMMON_RESERVED_PREFIXES

# Every meta key that holds a manifest-name list, across the store
# families (postings/IVF/IVFPQ use "manifests", postings' doclen
# sidecar "dl_manifests", the binary store's two parts
# "sk_manifests"/"vec_manifests"). Collision refusals and optimize-tag
# derivation scan them ALL so one family's tag can never overwrite a
# sibling list's manifest file.
MANIFEST_LIST_KEYS = (
    "manifests", "dl_manifests", "sk_manifests", "vec_manifests"
)


def _taken_manifest_names(meta: dict) -> set:
    taken = set(meta.get("retired_manifests", []))
    for k in MANIFEST_LIST_KEYS:
        taken |= set(meta.get(k) or [])
    return taken


def sweep_tagged_partitioned(root: str, batch_tag: str) -> None:
    """Delete exactly ``batch-<tag>-NNNNN.parquet`` files under the
    partition directories of ``root`` — the undo step that makes
    re-publishing a crashed (uncommitted) batch exact. Exact-name
    match, not a string prefix (a prefix sweep for tag ``b1`` would
    also delete committed tag ``b1-2``'s files)."""
    import re as _re

    if not os.path.isdir(root):
        return
    pat = _re.compile(rf"^batch-{_re.escape(batch_tag)}-\d+\.parquet$")
    for d in os.listdir(root):
        pdir = os.path.join(root, d)
        if "=" not in d or not os.path.isdir(pdir):
            continue
        for f in os.listdir(pdir):
            if pat.fullmatch(f):
                os.remove(os.path.join(pdir, f))


def publish_staged_partitioned(
    stage: str, root: str, batch_tag: str
) -> "list[str]":
    """Move staged ``<col>=<val>/*.parquet`` files into the live
    partition directories under deterministic ``batch-<tag>-NNNNN``
    names; returns the published paths (relative to ``root``) for the
    batch's manifest. The moves publish NOTHING to readers — only the
    later meta commit naming the manifest does (an object-store
    deployment replaces the renames with a copy + the same manifest
    swap)."""
    seq = 0
    published: "list[str]" = []
    for d in sorted(os.listdir(stage)):
        sdir = os.path.join(stage, d)
        if "=" not in d or not os.path.isdir(sdir):
            continue
        dest = os.path.join(root, d)
        os.makedirs(dest, exist_ok=True)
        for f in sorted(os.listdir(sdir)):
            if not f.endswith(".parquet"):
                continue
            name = f"batch-{batch_tag}-{seq:05d}.parquet"
            os.replace(os.path.join(sdir, f), os.path.join(dest, name))
            published.append(f"{d}/{name}")
            seq += 1
    return published


def read_store_files(
    spark, path: str, meta: dict, key: str, sub: str,
    base_path: bool = False,
):
    """ONE copy of the manifest-resolved data read every versioned
    store family shares (IVF vectors, IVFPQ codes, binary sketches +
    vectors): the frame under ONE committed meta snapshot. ``key`` is
    the meta list naming the manifests, ``sub`` the data subdirectory;
    ``base_path=True`` preserves hive partition columns/pruning for
    partitioned layouts. Falls back to the directory listing for a
    legacy pre-manifest store (accepting the legacy publish-to-commit
    window); a committed-EMPTY snapshot serves zero rows under the
    directory's schema (the directory may still hold OLDER snapshots'
    files, so a plain directory read would resurrect them)."""
    from pyspark.sql import functions as F

    root = os.path.join(path, sub)
    names = meta.get(key)
    if names is None:
        return spark.read.parquet(root)
    rel = resolve_manifest_files(path, {"manifests": names})
    if not rel:
        return spark.read.parquet(root).where(F.lit(False))
    reader = spark.read
    if base_path:
        reader = reader.option("basePath", root)
    return reader.parquet(*[os.path.join(root, f) for f in rel])


def store_changes(
    spark,
    path: str,
    v_from: int,
    v_to: int,
    key: str,
    sub: str,
    id_col: "str | None" = None,
    base_path: bool = True,
):
    """Version-to-version CDC for a manifest-pointer data store — ONE
    copy of the ``postings_changes`` delta shape for the pure-data
    tiers (IVF vectors, IVFPQ codes, binary sketches): (id, change ∈
    added|deleted) between two committed versions, reading ONLY the
    interval's delta manifests and tombstone batches — O(delta), never
    a store scan. An id added AND deleted inside the interval nets to
    nothing (true CDC semantics).

    Refuses when the interval is not delta-comparable: a
    snapshot-preserving OPTIMIZE or destructive compaction resets the
    manifest/delete ledgers (prefix + compactions checks), and a
    REBUILD mints a fresh ``build_token`` (the postings convention —
    two builds' version numbers are not the same lineage even when the
    ledger lists look alike)."""
    from pyspark.sql import functions as F

    if v_from > v_to:
        raise ValueError(f"v_from {v_from} > v_to {v_to}")
    m_from = read_meta_version(path, v_from)
    m_to = read_meta_version(path, v_to)
    # the delta files are named by v_to's ledger (append-only lineage:
    # old ⊆ new), so v_to's servability is what matters — a retained
    # v_to keeps every delta file alive through vacuum
    assert_snapshot_servable(path, m_to)
    mf = m_from.get(key)
    mt = m_to.get(key)
    if mf is None or mt is None:
        raise ValueError(
            f"store version predates the manifest pointer ({key})"
        )
    del_from = m_from.get("deletes", [])
    del_to = m_to.get("deletes", [])
    if (
        mt[: len(mf)] != mf
        or del_to[: len(del_from)] != del_from
        or m_from.get("compactions", 0) != m_to.get("compactions", 0)
        or m_from.get("build_token") != m_to.get("build_token")
    ):
        raise ValueError(
            "a compaction/rebuild crossed the interval — version deltas "
            "are not comparable (ledgers were reset)"
        )
    id_col = id_col or m_to.get("id_col", "vec_id")
    root = os.path.join(path, sub)
    new_m = mt[len(mf):]
    new_tags = del_to[len(del_from):]
    added = None
    if new_m:
        rel = resolve_manifest_files(path, {"manifests": new_m})
        if rel:
            reader = spark.read
            if base_path:
                reader = reader.option("basePath", root)
            added = (
                reader.parquet(*[os.path.join(root, f) for f in rel])
                .select(id_col)
                .distinct()
            )
    tomb = None
    if new_tags:
        tomb = (
            spark.read.parquet(
                *[os.path.join(path, "tombstones", t) for t in new_tags]
            )
            .select(id_col)
            .distinct()
        )
    parts = []
    if added is not None:
        a = added
        if tomb is not None:
            a = a.join(tomb, id_col, "left_anti")
        parts.append(a.withColumn("change", F.lit("added")))
    if tomb is not None:
        d = tomb
        if added is not None:
            d = d.join(added, id_col, "left_anti")
        parts.append(d.withColumn("change", F.lit("deleted")))
    if not parts:
        from pyspark.sql import types as T

        # type the empty frame from ONE committed file, never the
        # whole store — the no-change polling case must stay O(1), not
        # O(committed files) (r11 review finding). Walk manifests only
        # until the FIRST file: stopping at mt[:1] mis-typed a
        # string-keyed store whose initial build committed zero files
        # (empty base + later appends → LongType id, breaking a
        # downstream unionByName) — r11 ADVICE. Still one footer read;
        # the manifest walk is ledger-JSON only.
        id_type = T.LongType()  # all-manifests-empty last resort
        for m in mt:
            rel = resolve_manifest_files(path, {"manifests": [m]}) or []
            if rel:
                id_type = (
                    spark.read.parquet(os.path.join(root, rel[0]))
                    .schema[id_col]
                    .dataType
                )
                break
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(id_col, id_type),
                    T.StructField("change", T.StringType()),
                ]
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def refuse_manifest_collision(
    meta: dict,
    batch_tag: str,
    reserved: "tuple[str, ...]" = COMMON_RESERVED_PREFIXES,
) -> None:
    """Loud refusal BEFORE any sweep or write runs, for a caller tag
    that (a) sits in a store-internal namespace THIS family mints
    (``reserved`` — postings adds ``dl-``, the binary store ``vec-``;
    see COMMON_RESERVED_PREFIXES) or (b) names a manifest some
    servable version still references — live, retired by an optimize,
    or a doclen twin. Sweeping first would delete that manifest's
    committed files; writing first would overwrite its file list
    (postings append docstring, r11 review finding). The collision
    check in (b) still spans every sidecar namespace unconditionally —
    scoping only relaxes the PREFIX ban, never the overwrite guard."""
    if batch_tag.startswith(reserved):
        raise ValueError(
            f"batch_tag {batch_tag!r} uses a reserved prefix "
            f"({'/'.join(reserved)} are store-internal namespaces)"
        )
    taken = _taken_manifest_names(meta)
    if (
        batch_tag in taken
        or ("dl-" + batch_tag) in taken
        or ("vec-" + batch_tag) in taken
    ):
        raise ValueError(
            f"batch_tag {batch_tag!r} collides with a manifest name "
            "a servable version references"
        )


def append_partitioned_store_batch(
    path: str,
    batch_tag: "str | None",
    write_batch,
    data_sub: str,
    mutate_meta=None,
) -> bool:
    """The staged manifest-pointer append for hive-partitioned stores
    (IVF ``vectors/``, IVFPQ ``codes/``) — ONE copy of the
    commit/replay state machine, the partitioned twin of
    :func:`append_flat_store_batch`.

    ``write_batch(dest_dir, mode)`` writes the batch's partitioned
    parquet (``partitionBy`` the store's partition column);
    ``mutate_meta(meta)``, if given, folds family counters into the
    meta dict right before the commit. Flow: replay check → collision
    refusal → legacy 'base' manifest backfill (a pre-manifest store's
    directory listing IS the committed base — single-writer, so
    backfilling before the append is exact) → stage/sweep/
    deterministic publish (or direct append + listing diff for
    untagged batches) → ``_manifests/<tag>.json`` → atomic OCC meta
    commit naming manifest + tag. Crash anywhere before the commit
    leaves stray files no manifest names — invisible to readers that
    resolve files through the manifest — and the replay is exact.
    Returns False (no-op) when ``batch_tag`` was already applied."""
    if batch_tag is not None:
        validate_batch_tag(batch_tag)
    meta = read_meta(path)
    applied = meta.setdefault("applied", [])
    if tag_is_applied(meta, batch_tag):
        cleanup_flat_staging(path, batch_tag)
        return False
    if batch_tag is not None:
        refuse_manifest_collision(meta, batch_tag)
    root = os.path.join(path, data_sub)
    manifests = meta.get("manifests")
    if manifests is None:
        # Sweep THIS tag's published files before the listing becomes
        # 'base': a tagged append that crashed between publish and
        # commit left batch-<tag>-* files on disk, and backfilling
        # them into 'base' would count them twice once the
        # deterministic republish puts the same names into the tag's
        # own manifest (append_flat_store_batch docstring).
        if batch_tag is not None:
            sweep_tagged_partitioned(root, batch_tag)
        write_manifest(path, "base", list_parquet_files(root))
        manifests = meta["manifests"] = ["base"]
        # re-run the refusal now that the backfilled names exist: on a
        # legacy store a tag like 'base' passed the early check (empty
        # lists), and without this it would OVERWRITE the backfilled
        # manifest below — erasing the whole pre-batch corpus from the
        # committed view. Raising HERE costs nothing: no data has been
        # staged or published yet (r11 review finding).
        if batch_tag is not None:
            refuse_manifest_collision(meta, batch_tag)
    if batch_tag is None:
        pre = set(list_parquet_files(root))
        write_batch(root, "append")
        new_files = sorted(set(list_parquet_files(root)) - pre)
        mname = f"anon-{len(manifests):05d}"
        while mname in manifests or mname in set(
            meta.get("retired_manifests", [])
        ):
            mname += "x"
    else:
        stage = os.path.join(path, "_staging", batch_tag)
        write_batch(stage, "overwrite")
        sweep_tagged_partitioned(root, batch_tag)  # undo a crashed replay
        new_files = publish_staged_partitioned(stage, root, batch_tag)
        mname = batch_tag
    if mname in manifests or mname in set(meta.get("retired_manifests", [])):
        # belt-and-braces re-check of the early refusal above
        raise ValueError(f"batch_tag {mname!r} collides with a manifest")
    write_manifest(path, mname, new_files)
    manifests.append(mname)
    if batch_tag is not None:
        applied.append(batch_tag)
    if mutate_meta is not None:
        mutate_meta(meta)
    commit_meta(path, meta)  # <-- commit point
    if batch_tag is not None:
        cleanup_flat_staging(path, batch_tag)
    return True


def optimize_flat_store(
    path: str, meta: dict, write_data, build_sidecar, sidecar_sub: str
) -> str:
    """Snapshot-PRESERVING compaction commit for a flat sidecar store
    (zone-map / bloom) — the sidecar twin of
    :func:`optimize_partitioned_store`, ONE copy of the protocol.
    ``write_data(stage_dir)`` writes the compacted data files;
    ``build_sidecar(abs_published_files) -> DataFrame`` derives the
    sidecar rows for exactly the published files (the same callback
    contract as :func:`append_flat_store_batch`). Readers reach data
    only through committed sidecar rows, so the old versions' data
    files stay live for the as-of surface until ``vacuum_store``
    (whose sidecar-driven data GC reclaims exactly the files no
    retained version's rows name). Floor does not move; a crash before
    the commit leaves unnamed files (invisible; re-run sweeps its own
    tag). Returns the optimize tag."""
    tag = derive_optimize_tag(meta)
    data_dir = os.path.join(path, "data")
    side_dir = os.path.join(path, sidecar_sub)
    stage = os.path.join(path, "_staging", tag)
    cleanup_flat_staging(path, tag)
    write_data(os.path.join(stage, "data"))
    sweep_tagged_files(data_dir, tag)
    new_files = publish_staged_flat(
        os.path.join(stage, "data"), data_dir, tag
    )
    side_rows = build_sidecar(
        [os.path.join(data_dir, f) for f in new_files]
    ).coalesce(1)
    sstage = os.path.join(stage, "sidecar")
    side_rows.write.mode("overwrite").parquet(sstage)
    sweep_tagged_files(side_dir, tag)
    new_side = publish_staged_flat(sstage, side_dir, tag)
    write_manifest(path, tag, new_side)
    meta["retired_manifests"] = sorted(
        set(meta.get("retired_manifests", []))
        | set(meta.get("manifests", []))
    )
    meta["manifests"] = [tag]
    meta["compactions"] = int(meta.get("compactions", 0)) + 1
    commit_meta(path, meta)  # <-- commit point; floor does NOT move
    cleanup_flat_staging(path, tag)
    return tag


def parquet_rows_total(files) -> int:
    """Sum of parquet FOOTER row counts over absolute file paths — the
    exact row count for O(files) driver-side metadata reads (the
    zorder sidecar's footer pattern), never an executor data scan.
    Parquet footers are authoritative: the writer records the row
    count at commit, so for a just-written committed file set this
    equals a full ``.count()`` at a tiny fraction of the cost (at
    index scale, O(files) metadata vs a full re-read of the data)."""
    import pyarrow.parquet as papq

    return sum(papq.ParquetFile(f).metadata.num_rows for f in files)


def derive_optimize_tag(meta: dict) -> str:
    """Deterministic, collision-free manifest tag for a
    snapshot-preserving OPTIMIZE: derived purely from meta, so a
    crashed attempt's re-run reuses the SAME tag (sweep-exact); a
    pre-existing colliding name (possible only on stores written
    before append tags reserved the optimize- prefix) is skipped with
    the anon-style deterministic suffix."""
    taken = _taken_manifest_names(meta) | set(meta.get("applied") or [])
    tag = f"optimize-{int(meta.get('compactions', 0)) + 1}"
    while tag in taken or ("dl-" + tag) in taken or ("vec-" + tag) in taken:
        tag += "x"
    return tag


def optimize_partitioned_store(
    path: str, meta: dict, survivors_writer, data_sub: str
) -> str:
    """Snapshot-PRESERVING compaction commit for a hive-partitioned
    manifest-pointer store — the shared back half of the Delta
    OPTIMIZE shape (retrieval.optimize_postings_store is the postings
    form with its interleaved doclen sidecar; this is the pure-data
    form the vector tiers share). The caller resolved the committed
    survivors from THIS meta snapshot; ``survivors_writer(stage_dir)``
    writes them partitioned. This helper owns the protocol: staged
    publish under the deterministic ``optimize-N`` tag, manifest swap
    (live lists collapse to the one compacted manifest; replaced names
    move to ``retired_manifests`` so no future tag can reuse a name a
    servable snapshot still references), delete-ledger zero, and ONE
    atomic OCC meta commit. Old versions' files are NOT touched — the
    servability floor does not move; ``vacuum_store`` reclaims them
    later. A crash before the commit leaves published-but-unreferenced
    files (invisible; the re-run sweeps its own tag names first).
    Returns the optimize tag."""
    tag = derive_optimize_tag(meta)
    root = os.path.join(path, data_sub)
    stage = os.path.join(path, "_staging", tag)
    cleanup_flat_staging(path, tag)
    survivors_writer(stage)
    sweep_tagged_partitioned(root, tag)
    new_files = publish_staged_partitioned(stage, root, tag)
    write_manifest(path, tag, new_files)
    meta["retired_manifests"] = sorted(
        set(meta.get("retired_manifests", []))
        | set(meta.get("manifests", []))
    )
    meta["manifests"] = [tag]
    meta["deletes"] = []
    meta["compactions"] = int(meta.get("compactions", 0)) + 1
    commit_meta(path, meta)  # <-- commit point; floor does NOT move
    cleanup_flat_staging(path, tag)
    return tag
