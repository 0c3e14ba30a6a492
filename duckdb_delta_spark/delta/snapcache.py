"""Process-wide snapshot resolver: never replay a log twice.

Reference analogue: a cached kernel snapshot is either refreshed forward
from its version (delta_multi_file_list.cpp:706-718) or reused pinned
(``UseCachedSnapshot``, delta_catalog.cpp:71-73;
delta_schema_entry.cpp:199-221). Here every ``DeltaTable``,
``DeltaWriter``, catalog entry, streaming sink and change-feed start
resolves through one shared cache:

* one ``_delta_log`` listing per resolution;
* an unchanged HEAD returns the cached :class:`Snapshot` itself (with
  whatever it already memoized — sorted files, the stats manifest);
* a newer HEAD replays only the tail on top of the cached state;
* time travel starts from the nearest cached state at or below the
  target — states are kept sparsely (about one per :data:`STATE_EVERY`
  versions, plus the newest checkpoint's state and the newest HEAD), and
  consecutive states share their ``AddFile`` objects.

Validation. A cached state is used only while the bytes of its version's
commit JSON still hash to what they were when it was built: a table that
was dropped and recreated at the same path (same sizes, same mtimes,
even the same inode) fails that check, while a stat-based key would not.
A state also carries its *lineage* — the checkpoint its replay started
from (``Snapshot.checkpoint_version``) — and serves a target only when a
fresh :meth:`Snapshot.build` would start from that same checkpoint and
pass through the state's version on its way (not jump over it inside a
compacted segment), and only when the listed log can replay the target
at all. So a cached resolution is always exactly what a pure replay of
the current log would produce: checkpoint-time expiry (tombstones,
set-transactions) and expired history behave the same with or without
the cache.

Bypass. Logs with an explicit ``log_tail`` or a ``commit_fn``
(catalog-managed commits) never touch the cache: their commit ledger
lives outside ``_delta_log`` listing.

Memory. The cache holds at most :data:`ENTRY_BUDGET` file entries (live
adds plus remove tombstones, summed over cached states) and at most
:data:`MAX_STATES` states; least recently used states go first, and a
single snapshot larger than the budget is never cached. Both are fixed
constants.

:meth:`Snapshot.build` itself stays a pure replay; this module only
chooses where a replay starts and what to keep. Cached snapshots are
shared, so nothing may mutate a snapshot after it is built.
"""

from __future__ import annotations

import bisect
import hashlib
import os
import threading

from duckdb_delta_spark.delta.errors import DeltaError
from duckdb_delta_spark.delta.log import DeltaLog, LogListing
from duckdb_delta_spark.delta.snapshot import Snapshot

#: a time-travel state is kept every this many versions
STATE_EVERY = 100
#: file entries (adds + tombstones) the cache may hold across all states
ENTRY_BUDGET = 200_000
#: cached states across all tables
MAX_STATES = 256


def _commit_digest(log: DeltaLog, version: int) -> bytes | None:
    """Hash of the bytes of ``version``'s commit JSON (None when gone)."""
    try:
        with open(os.path.join(log.log_path, f"{version:020d}.json"), "rb") as f:
            data = f.read()
    except OSError:
        return None
    return hashlib.blake2b(data, digest_size=16).digest()


def _lineage(listing: LogListing, target: int) -> int | None:
    """The checkpoint a pure build of ``target`` starts from."""
    below = [v for v in listing.checkpoints if v <= target]
    return max(below) if below else None


def _walk_stops(listing: LogListing, root: int | None,
                target: int) -> list[int] | None:
    """Versions a pure :meth:`Snapshot.build` of ``target`` passes
    through, in order: the root (its checkpoint, or -1 = empty), then the
    state after each commit or compacted segment it applies. A cached
    state is interchangeable with the pure replay only at these stops —
    a state inside a segment the pure walk applies whole was reached by
    a different action order. None when the listed log cannot replay
    ``target`` at all (an expired prefix or a gap)."""
    commits, segments = listing.commits, listing.segments
    v = 0 if root is None else root + 1
    stops = [-1 if root is None else root]
    while v <= target:
        seg = segments.get(v)
        if seg is not None and seg[0] <= target:
            v = seg[0] + 1
        elif v in commits:
            v += 1
        else:
            return None
        stops.append(v - 1)
    return stops


class _State:
    __slots__ = ("snap", "digest", "kind", "cost", "used")

    def __init__(self, snap: Snapshot, digest: bytes, kind: str):
        self.snap = snap
        self.digest = digest
        #: "anchor" (a time-travel state, kept until evicted), "root"
        #: (a checkpoint's state) or "head" — one of each of the last two
        #: per table, a newer one superseding the older
        self.kind = kind
        self.cost = 1 + len(snap.files) + len(snap.tombstones)
        self.used = 0


class SnapshotCache:
    """Thread-safe table-path → sparse version states map. Builds run
    outside the lock; two threads racing on the same miss both replay
    and the later put wins (same content either way)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._tables: dict[str, dict[int, _State]] = {}
        self._entries = 0
        self._states = 0
        self._tick = 0

    # ---------- introspection ----------

    def entries(self) -> int:
        """File entries currently held (what :data:`ENTRY_BUDGET` bounds)."""
        with self._lock:
            return self._entries

    def versions(self, table_path: str) -> list[int]:
        """Versions with a cached state for the table at ``table_path``."""
        with self._lock:
            return sorted(self._tables.get(os.path.abspath(table_path), {}))

    # ---------- resolution ----------

    def resolve(self, log: DeltaLog, version: int | None = None,
                base: Snapshot | None = None) -> Snapshot:
        """The snapshot of ``log`` at ``version`` (default HEAD) — what
        ``Snapshot.build(log, version)`` returns, replaying as little as
        the cache allows. ``base``: a snapshot the caller already holds,
        used as a replay start on the same terms as a cached state."""
        if log.log_tail is not None or log.commit_fn is not None:
            return Snapshot.build(log, version, base=base)
        listing = log.list_log_files()
        target = log.resolve_version(version, listing)
        root = _lineage(listing, target)
        stops = _walk_stops(listing, root, target)
        if stops is None:
            # expired history or a gap: the pure build raises the right error
            return Snapshot.build(log, target, listing=listing)
        snap = self._start(log, root, stops, base)
        if snap is not None and snap.version == target:
            return snap
        try:
            if snap is None:
                first = stops[0] if root is not None else stops[1]
                snap = self._build(log, listing, first, None, target,
                                   "root" if root is not None else "anchor")
            i = bisect.bisect_left(stops, snap.version)
            while snap.version < target:
                # the furthest stop within this STATE_EVERY window (at
                # least the next one): one kept state per window
                goal = (snap.version // STATE_EVERY + 1) * STATE_EVERY
                i = max(i + 1, bisect.bisect_right(stops, goal) - 1)
                nxt = stops[i]
                snap = self._build(log, listing, nxt, snap, target,
                                   "anchor" if nxt < target else None)
            return snap
        except DeltaError:
            # a start the listed log cannot replay forward from (say a
            # commit vanished mid-resolve): a fresh replay decides, raising
            # exactly what it would uncached
            return Snapshot.build(log, target, listing=listing)

    def _build(self, log: DeltaLog, listing: LogListing, version: int,
               base: Snapshot | None, target: int,
               kind: str | None) -> Snapshot:
        # hash BEFORE replaying: a commit rewritten mid-build leaves a
        # digest that no longer matches, so the state is never reused
        digest = _commit_digest(log, version)
        snap = Snapshot.build(log, version, base=base, listing=listing)
        if version % STATE_EVERY == 0:
            kind = "anchor"
        elif version == target == listing.head:
            kind = "head"
        if digest is not None and kind is not None:
            self._put(log.table_path, _State(snap, digest, kind))
        return snap

    def _start(self, log: DeltaLog, root: int | None, stops: list[int],
               base: Snapshot | None) -> Snapshot | None:
        """Newest replay start on the pure walk's stops: a validated
        cached state, or the caller's ``base``."""
        stopset = set(stops)

        def usable(s: Snapshot) -> bool:
            return s.version in stopset and s.checkpoint_version == root

        best = None
        if base is not None and base.log.table_path == log.table_path \
                and usable(base):
            best = base
        with self._lock:
            states = self._tables.get(log.table_path) or {}
            cands = sorted(((v, st) for v, st in states.items()
                            if usable(st.snap)), reverse=True,
                           key=lambda c: c[0])
        for v, st in cands:
            if best is not None and best.version >= v:
                break
            if _commit_digest(log, v) == st.digest:
                with self._lock:
                    self._tick += 1
                    st.used = self._tick
                return st.snap
            with self._lock:
                if (self._tables.get(log.table_path) or {}).get(v) is st:
                    self._unlink(log.table_path, v)
        return best

    # ---------- bookkeeping ----------

    def _put(self, table_path: str, st: _State) -> None:
        if st.cost > ENTRY_BUDGET:
            return
        v = st.snap.version
        with self._lock:
            self._tick += 1
            st.used = self._tick
            # the same version, and an older HEAD (or checkpoint root) the
            # new one supersedes
            stale = [ov for ov, old in self._tables.get(table_path, {}).items()
                     if ov == v or (st.kind != "anchor" and old.kind == st.kind
                                    and ov < v)]
            for ov in stale:
                self._unlink(table_path, ov)
            self._tables.setdefault(table_path, {})[v] = st
            self._entries += st.cost
            self._states += 1
            while self._entries > ENTRY_BUDGET or self._states > MAX_STATES:
                path, ov = min(
                    ((p, ov) for p, ss in self._tables.items() for ov in ss),
                    key=lambda k: self._tables[k[0]][k[1]].used)
                self._unlink(path, ov)

    def _unlink(self, table_path: str, v: int) -> None:
        """Remove one state; caller holds the lock."""
        states = self._tables[table_path]
        st = states.pop(v)
        self._entries -= st.cost
        self._states -= 1
        if not states:
            del self._tables[table_path]


#: the process-wide cache every engine entry point resolves through
CACHE = SnapshotCache()


def resolve_snapshot(log: DeltaLog, version: int | None = None,
                     base: Snapshot | None = None) -> Snapshot:
    """``CACHE.resolve`` — see :meth:`SnapshotCache.resolve`."""
    return CACHE.resolve(log, version, base)
