"""Snapshot: reconciled table state at a version.

Reference analogue: ``DeltaMultiFileList`` — the lazily expanded file list +
per-file metadata (reference: src/functions/delta_scan/delta_multi_file_list.hpp:56-166,
``DeltaFileMetaData`` :22-43) plus snapshot lifecycle ``InitializeSnapshot``
(delta_multi_file_list.cpp:694-744). Incremental refresh mirrors
delta_multi_file_list.cpp:706-718: moving *forward* replays only the new log
tail on top of a cached snapshot; moving backward rebuilds.

The Delta ``metaData.schemaString`` is Spark's own ``StructType.json()``
format, so schema decoding is exact via ``StructType.fromJson`` — a material
simplification vs. the reference's FFI schema visitor
(reference: src/delta_utils.cpp:539-573).
"""

from __future__ import annotations

import json
import os
import urllib.parse
from dataclasses import dataclass, field

from pyspark.sql.types import StructType

from duckdb_delta_spark.delta.errors import (
    MalformedLogError,
    SchemaError,
    UnsupportedFeatureError,
)
from duckdb_delta_spark.delta.log import DeltaLog, LogListing

#: reader features this engine implements; anything else in protocol.readerFeatures fails
#: writer features this engine honors when committing; a table listing
#: anything else in protocol.writerFeatures must not be written to
SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "typeWidening",
    "typeWidening-preview",
    "domainMetadata",
    "vacuumProtocolCheck",
    "generatedColumns",  # computed when absent, enforced when provided (writer.py)
    "changeDataFeed",  # DML writes _change_data + cdc actions (writer._write_cdc)
    "inCommitTimestamp",  # monotonic commitInfo.inCommitTimestamp (writer._commit)
    "v2Checkpoint",  # sidecar checkpoints written by writer._checkpoint_v2
    "variantType",  # declared by create() when the schema has a variant column
    "variantType-preview",
    # shredding is a PER-FILE choice (Delta spec): appending legacy
    # two-field variant files to a shredded table is spec-legal, so the
    # feature's presence must not block writes
    "variantShredding",
    "variantShredding-preview",
    "identityColumns",  # value allocation + HWM tracking in writer.append
    "allowColumnDefaults",  # CURRENT_DEFAULT fill on append (writer.set_default)
    "clustering",  # clustered tables: delta.clustering domain metadata; OPTIMIZE clusters
    "rowTracking",  # baseRowId allocation + rowIdHighWaterMark (writer._assign_row_ids)
    # all-or-nothing history cleanup below requireCheckpointProtectionBeforeVersion
    # (writer.cleanup_expired_logs honors it; DROP FEATURE TRUNCATE HISTORY writes it)
    "checkpointProtection",
}

SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "typeWidening",
    "typeWidening-preview",
    "vacuumProtocolCheck",
    "v2Checkpoint",  # UUID-named manifests (json/parquet) + _sidecars resolved in DeltaLog
    "domainMetadata",
    "appendOnly",
    "invariants",
    # Spark-4 VariantType end-to-end (parse_json write / variant_get read).
    "variantType",
    "variantType-preview",
    # Shredded layouts ({metadata, value, typed_value…} per the Parquet
    # Variant Shredding spec) reassemble inside Spark's vectorized parquet
    # reader (SparkShreddingUtils) whenever the requested schema says
    # VariantType — typed subcolumns, field/object residuals, per-file
    # shred schemas, arrays. Oracle-gated via the foreign fixture
    # (testing/foreign.build_foreign_shredded_variant).
    "variantShredding",
    "variantShredding-preview",
}


def resolve_log_path(table_path: str, raw: str) -> str:
    """A log action's ``path`` field (relative url-encoded, or absolute)
    → filesystem path. THE resolution rule — add actions
    (:meth:`AddFile.absolute_path`), cdc actions (changes._read_cdc) and
    any future consumer must share it so a path-handling fix lands
    everywhere at once."""
    p = urllib.parse.unquote(raw)
    if "://" in p or os.path.isabs(p):
        return p
    return os.path.join(table_path, p)


@dataclass(slots=True)
class AddFile:
    """One live data file (a reconciled ``add`` action)."""

    path: str  # path exactly as in the log (relative url-encoded, or absolute)
    partition_values: dict[str, str | None]
    size: int
    modification_time: int
    stats: str | None = None
    deletion_vector: dict | None = None
    tags: dict | None = None
    #: row tracking (Delta spec "Row Tracking"): fresh row id of row i in
    #: this file = base_row_id + i; None on untracked tables
    base_row_id: int | None = None
    default_row_commit_version: int | None = None

    _parsed_stats: dict | None = field(default=None, repr=False, compare=False)

    def absolute_path(self, table_path: str) -> str:
        return resolve_log_path(table_path, self.path)

    def parsed_stats(self) -> dict:
        """Parse the stats JSON once: {numRecords, minValues, maxValues, nullCount}."""
        if self._parsed_stats is None:
            try:
                self._parsed_stats = json.loads(self.stats) if self.stats else {}
            except json.JSONDecodeError:
                self._parsed_stats = {}
        return self._parsed_stats

    @property
    def num_records(self) -> int | None:
        n = self.parsed_stats().get("numRecords")
        return int(n) if n is not None else None

    def dv_unique_id(self) -> str | None:
        return _dv_unique_id(self.deletion_vector)


def _dv_unique_id(dv: dict | None) -> str | None:
    if not dv:
        return None
    return f"{dv.get('storageType')}{dv.get('pathOrInlineDv')}@{dv.get('offset') or 0}"


class Snapshot:
    """Reconciled state of one Delta table at one version."""

    def __init__(self, log: DeltaLog, version: int):
        self.log = log
        self.version = version
        self.metadata: dict = {}
        self.protocol: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
        # Reconciliation key is the Delta spec's add/remove primary key
        # (path, deletionVector.uniqueId): a commit may legitimately carry
        # add(path, dvNew) AND remove(path, dvOld) for the same path in any
        # order, so a remove only evicts the entry whose dvId matches its
        # own descriptor (kernel semantics); every action applies O(1).
        self.files: dict[str, AddFile] = {}
        #: remove tombstones: path → latest remove action (vacuum gates file
        #: deletion on remove.deletionTimestamp, not fs mtime)
        self.tombstones: dict[str, dict] = {}
        #: (storageType, pathOrInlineDv) of DV files referenced by removes →
        #: latest deletionTimestamp (vacuum retention for replaced DVs)
        self.dv_tombstones: dict[tuple, int] = {}
        self.app_transactions: dict[str, int] = {}
        #: appId -> lastUpdated epoch-ms (None when the action lacked it);
        #: drives delta.setTransactionRetentionDuration expiry at checkpoint
        self.app_txn_updated: dict[str, int | None] = {}
        self.domain_metadata: dict[str, str] = {}
        self.commit_timestamps: dict[int, int] = {}
        self._stats_manifest = None
        self._stats_manifest_built = False
        self._sorted_files: list[AddFile] | None = None
        self._partition_arrays: dict[str, object] = {}
        #: version of the checkpoint this state's replay lineage started
        #: from — an incremental build inherits its base's (None = a
        #: commit walk from version 0)
        self.checkpoint_version: int | None = None

    # ---------- construction ----------

    @classmethod
    def build(
        cls, log: DeltaLog, version: int | None = None,
        base: "Snapshot | None" = None,
        actions: "list[dict] | None" = None,
        listing: "LogListing | None" = None,
    ) -> "Snapshot":
        """Replay the log up to ``version`` (default HEAD).

        ``base``: a previously built snapshot of the same table; when its
        version ≤ target only the newer commits are read (incremental
        refresh). A backward move ignores the base and rebuilds.

        ``actions``: the TARGET commit's already-parsed actions — a
        caller walking the log commit-by-commit (CDF) has just read the
        JSON it is asking this build to apply; passing it here makes the
        single-commit incremental refresh parse each commit exactly
        once instead of twice. Only consulted for the target version
        and never for a compaction-covered one.

        ``listing``: a :meth:`DeltaLog.list_log_files` result the caller
        already holds; otherwise the build lists ``_delta_log`` once.
        Either way the build is a pure replay of the log — caching lives
        in :mod:`duckdb_delta_spark.delta.snapcache`.
        """
        if listing is None:
            listing = log.list_log_files()
        target = log.resolve_version(version, listing)
        if base is not None and base.log.table_path == log.table_path and base.version <= target:
            snap = cls(log, target)
            snap.metadata = dict(base.metadata)
            snap.protocol = dict(base.protocol)
            snap.files = dict(base.files)
            snap.tombstones = dict(base.tombstones)
            snap.dv_tombstones = dict(base.dv_tombstones)
            snap.app_transactions = dict(base.app_transactions)
            snap.app_txn_updated = dict(base.app_txn_updated)
            snap.domain_metadata = dict(base.domain_metadata)
            snap.commit_timestamps = dict(base.commit_timestamps)
            snap.checkpoint_version = base.checkpoint_version
            start = base.version + 1
        else:
            snap = cls(log, target)
            start = 0
            ckpt_version = snap._maybe_apply_checkpoint(target, listing)
            snap.checkpoint_version = ckpt_version  # observability
            if ckpt_version is not None:
                start = ckpt_version + 1
        commits = listing.commits
        segments = listing.segments
        v = start
        while v <= target:
            seg = segments.get(v)
            if seg is not None and seg[0] <= target:
                # minor-compacted segment covers [v, hi]: apply its
                # reconciled actions instead of the per-commit JSONs
                # (which retention may already have deleted)
                hi, seg_path = seg
                for action in log.read_actions_file(seg_path):
                    snap._apply(action, hi)
                v = hi + 1
                continue
            if v == target and actions is not None:
                for action in actions:
                    snap._apply(action, v)
                v += 1
                continue
            if v not in commits:
                # distinguish an expired prefix (log retention cleanup
                # removed commits 0..k and no checkpoint ≤ target
                # survives) from genuine log corruption: the former is a
                # version-unavailable condition, not a malformed log
                if commits and v < min(commits):
                    from duckdb_delta_spark.delta.errors import (
                        InvalidTableVersionError,
                    )

                    raise InvalidTableVersionError(
                        f"version {target} predates retained history at "
                        f"{log.table_path}: earliest retained commit is "
                        f"{min(commits)} and no checkpoint covers "
                        f"{target} (log retention cleanup)"
                    )
                raise MalformedLogError(
                    f"log has a gap: commit {v} missing (target {target})"
                )
            for action in log.read_commit(v):
                snap._apply(action, v)
            v += 1
        snap._validate()
        from duckdb_delta_spark.delta.logging import emit

        emit(
            "snapshot.build",
            table_path=log.table_path,
            version=target,
            n_files=len(snap.files),
            incremental=base is not None and start > 0,
            replay_start=start,
        )
        return snap

    def _maybe_apply_checkpoint(self, target: int,
                                listing: "LogListing") -> int | None:
        checkpoints = listing.checkpoints
        hint = self.log.last_checkpoint_hint()
        candidates = [v for v in checkpoints if v <= target]
        if not candidates:
            return None
        best = max(candidates)
        # prefer the hinted checkpoint when it's usable (≤ target and listed)
        if hint and hint.get("version") in candidates:
            best = max(best, int(hint["version"]))
        self._apply_checkpoint_columnar(
            self.log.read_checkpoint_table(checkpoints[best]), best
        )
        return best

    def _apply_checkpoint_columnar(self, table, version: int) -> None:
        """Replay a checkpoint from pyarrow columns.

        The add manifest is the bulk of a checkpoint (1M rows for a 1M-file
        table); materializing it as per-row Python dicts (``to_pylist`` of
        the full struct + recursive map normalization) is GBs of driver
        garbage. Instead each struct FIELD converts once, columnar →
        flat Python lists, and stats stay lazy JSON strings
        (SURVEY §3.1's driver-side manifest plan).
        """
        import pyarrow.compute as pc

        from duckdb_delta_spark.delta.log import _normalize_maps

        names = set(table.column_names)
        # low-cardinality actions: generic dict path is fine
        for key in ("protocol", "metaData", "txn", "domainMetadata"):
            if key not in names:
                continue
            col = table.column(key)
            if col.null_count == len(col):
                continue
            for val in pc.drop_null(col).to_pylist():
                self._apply({key: _normalize_maps(val)}, version)

        for key, bulk in (("add", self._apply_adds_columnar),
                          ("remove", self._apply_removes_columnar)):
            if key in names:
                col = table.column(key).combine_chunks()
                if col.null_count < len(col):
                    bulk(col.drop_null())

    @staticmethod
    def _struct_field_list(arr, name: str, n: int) -> list:
        """One checkpoint struct field → flat Python list. All-null fields
        (deletionVector/tags on most tables) short-circuit: ``to_pylist``
        of 1M nulls still costs ~1s/field."""
        if name not in {f.name for f in arr.type}:
            return [None] * n
        f = arr.field(name)
        if f.null_count == n:
            return [None] * n
        return f.to_pylist()

    @staticmethod
    def _map_field_dicts(arr, name: str, n: int) -> list:
        """A map<str,str> struct field → list of dicts (or None for empty).

        ``MapArray.to_pylist`` materializes a list of (k, v) tuples per row
        — ~5s for 1M rows even when every map is EMPTY. Decoding from the
        flattened keys/items + offsets skips the tuple garbage; the common
        unpartitioned case (all offsets equal) is pure numpy."""
        if name not in {f.name for f in arr.type}:
            return [None] * n
        import pyarrow as pa

        f = arr.field(name)
        if isinstance(f, pa.ChunkedArray):
            f = f.combine_chunks()
        offs = f.offsets.to_numpy(zero_copy_only=False)
        if offs[-1] == offs[0]:  # every map empty (unpartitioned table)
            return [None] * n
        keys = f.keys.to_pylist()
        vals = f.items.to_pylist()
        return [
            dict(zip(keys[lo:hi], vals[lo:hi])) if hi > lo else None
            for lo, hi in zip(offs[:-1], offs[1:])
        ]

    def _apply_adds_columnar(self, arr) -> None:
        n = len(arr)
        fl = self._struct_field_list
        paths = fl(arr, "path", n)
        pvals = self._map_field_dicts(arr, "partitionValues", n)
        sizes = fl(arr, "size", n)
        mtimes = fl(arr, "modificationTime", n)
        stats = fl(arr, "stats", n)
        dvs = fl(arr, "deletionVector", n)
        tags = fl(arr, "tags", n)
        brids = fl(arr, "baseRowId", n)
        drcvs = fl(arr, "defaultRowCommitVersion", n)
        files = self.files
        tombstones = self.tombstones
        for i in range(n):
            f = AddFile(
                path=paths[i],
                partition_values=pvals[i] or {},
                size=int(sizes[i] or 0),
                modification_time=int(mtimes[i] or 0),
                stats=stats[i],
                deletion_vector=dvs[i],
                tags=dict(tags[i]) if isinstance(tags[i], list) else tags[i],
                base_row_id=None if brids[i] is None else int(brids[i]),
                default_row_commit_version=(
                    None if drcvs[i] is None else int(drcvs[i])
                ),
            )
            files[f.path + "\x00" + (f.dv_unique_id() or "")] = f
            tombstones.pop(f.path, None)

    def _apply_removes_columnar(self, arr) -> None:
        n = len(arr)
        fl = self._struct_field_list
        paths = fl(arr, "path", n)
        tss = fl(arr, "deletionTimestamp", n)
        dvs = fl(arr, "deletionVector", n)
        for i in range(n):
            self._apply(
                {"remove": {"path": paths[i],
                            "deletionTimestamp": tss[i],
                            "deletionVector": dvs[i]}},
                0,
            )

    def _apply(self, action: dict, version: int) -> None:
        if "metaData" in action and action["metaData"]:
            self.metadata = action["metaData"]
        elif "protocol" in action and action["protocol"]:
            self.protocol = action["protocol"]
        elif "add" in action and action["add"]:
            a = action["add"]
            f = AddFile(
                path=a["path"],
                partition_values=a.get("partitionValues") or {},
                size=int(a.get("size") or 0),
                modification_time=int(a.get("modificationTime") or 0),
                stats=a.get("stats"),
                deletion_vector=a.get("deletionVector"),
                tags=a.get("tags"),
                base_row_id=(
                    None if a.get("baseRowId") is None
                    else int(a["baseRowId"])
                ),
                default_row_commit_version=(
                    None if a.get("defaultRowCommitVersion") is None
                    else int(a["defaultRowCommitVersion"])
                ),
            )
            # same (path, dvId) replaces; a different dvId for the same path
            # coexists until its remove tombstone lands (spec reconciliation)
            self.files[f.path + "\x00" + (f.dv_unique_id() or "")] = f
            self.tombstones.pop(f.path, None)
        elif "remove" in action and action["remove"]:
            r = action["remove"]
            path = r["path"]
            dv = r.get("deletionVector")
            evicted = self.files.pop(path + "\x00" + (_dv_unique_id(dv) or ""), None)
            ts = int(r.get("deletionTimestamp") or 0)
            prev = self.tombstones.get(path)
            if prev is None or int(prev.get("deletionTimestamp") or 0) <= ts:
                self.tombstones[path] = r
            # the removed entry's DV file becomes vacuum-able after retention
            for d in (dv, evicted.deletion_vector if evicted else None):
                if d and d.get("storageType") in ("u", "p"):
                    key = (d["storageType"], d["pathOrInlineDv"])
                    self.dv_tombstones[key] = max(self.dv_tombstones.get(key, 0), ts)
        elif "txn" in action and action["txn"]:
            t = action["txn"]
            self.app_transactions[t["appId"]] = int(t["version"])
            lu = t.get("lastUpdated")
            self.app_txn_updated[t["appId"]] = (
                int(lu) if lu is not None else None)
        elif "domainMetadata" in action and action["domainMetadata"]:
            d = action["domainMetadata"]
            if d.get("removed"):
                self.domain_metadata.pop(d["domain"], None)
            else:
                self.domain_metadata[d["domain"]] = d.get("configuration", "")
        elif "commitInfo" in action and action["commitInfo"]:
            ts = action["commitInfo"].get("timestamp")
            if ts is not None:
                self.commit_timestamps[version] = int(ts)

    def _validate(self) -> None:
        if not self.metadata:
            raise MalformedLogError(
                f"no metaData action found replaying {self.log.table_path} @v{self.version}"
            )
        reader = int(self.protocol.get("minReaderVersion", 1))
        if reader >= 3:
            feats = set(self.protocol.get("readerFeatures") or [])
            unsupported = feats - SUPPORTED_READER_FEATURES
            if unsupported:
                raise UnsupportedFeatureError(
                    f"reader features not supported: {sorted(unsupported)}"
                )

    def verify_checksum(self) -> dict | None:
        """Cross-check this snapshot against the writer's ``<v>.crc``
        VersionChecksum (delta-spark parity). Returns the checksum dict
        when it exists and matches, None when no checksum was written;
        raises MalformedLogError on any aggregate mismatch — the cheap
        tripwire for a torn or tampered log."""
        path = os.path.join(self.log.log_path, f"{self.version:020d}.crc")
        if not os.path.isfile(path):
            return None
        try:
            with open(path, encoding="utf-8") as f:
                crc = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            raise MalformedLogError(
                f"unreadable checksum file {path}: {e}"
            ) from None
        files = self.add_files()
        actual = {
            "numFiles": len(files),
            "tableSizeBytes": int(sum(f.size for f in files)),
        }
        for key, got in actual.items():
            want = crc.get(key)
            if want is not None and int(want) != got:
                raise MalformedLogError(
                    f"checksum mismatch at version {self.version}: "
                    f"{key} is {got}, {os.path.basename(path)} says {want}"
                )
        return crc

    # ---------- derived properties ----------

    @property
    def schema(self) -> StructType:
        raw = self.metadata.get("schemaString")
        if not raw:
            raise SchemaError(f"metaData.schemaString missing at {self.log.table_path}")
        try:
            return StructType.fromJson(json.loads(raw))
        except Exception as e:  # noqa: BLE001 - surface as taxonomy error
            raise SchemaError(f"unparseable schemaString: {e}") from None

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.get("partitionColumns") or [])

    @property
    def configuration(self) -> dict[str, str]:
        return dict(self.metadata.get("configuration") or {})

    @property
    def column_mapping_mode(self) -> str:
        return self.configuration.get("delta.columnMapping.mode", "none")

    @property
    def materialized_row_id_cols(self) -> tuple[str | None, str | None]:
        """(row-id column, row-commit-version column) PHYSICAL names under
        which preserved row ids are materialized in rewritten data files
        (Delta spec "Row Tracking": dataChange=false rewrites must keep
        row ids stable; the names live in table configuration)."""
        c = self.configuration
        return (
            c.get("delta.rowTracking.materializedRowIdColumnName"),
            c.get("delta.rowTracking.materializedRowCommitVersionColumnName"),
        )

    @property
    def clustering_columns(self) -> list[str]:
        """LOGICAL clustering column names of a clustered table (Delta
        spec "Clustered Table": the ``delta.clustering`` domain metadata
        holds ``clusteringColumns`` as physical-name paths; the
        ``clustering`` writer feature gates it). Empty for unclustered
        tables. Physical names map back to logical through the schema's
        columnMapping metadata."""
        raw = self.domain_metadata.get("delta.clustering")
        if not raw:
            return []
        try:
            cols = (json.loads(raw) or {}).get("clusteringColumns") or []
        except (ValueError, AttributeError):
            return []
        phys2log = {}
        for f in self.schema.fields:
            md = f.metadata or {}
            phys2log[md.get("delta.columnMapping.physicalName", f.name)] = f.name
        out = []
        for path in cols:
            name = path[0] if isinstance(path, (list, tuple)) else path
            out.append(phys2log.get(name, name))
        return out

    def add_files(self) -> list[AddFile]:
        """Live files in deterministic (path) order. The sort is cached
        (len-guarded; snapshots are immutable once built) — at 1M files
        re-sorting per prune would dominate planning time."""
        if self._sorted_files is None or len(self._sorted_files) != len(
            self.files
        ):
            self._sorted_files = sorted(
                self.files.values(), key=lambda f: f.path
            )
        return list(self._sorted_files)

    def partition_array(self, col: str):
        """Partition values of ``col`` as one arrow string array (row i =
        ``add_files()[i]``; None/'' → null), cached — a pinned snapshot
        re-plans many queries and must not rebuild the per-file Python
        list each time at 1M files."""
        arr = self._partition_arrays.get(col)
        if arr is None or len(arr) != len(self.files):
            import pyarrow as pa

            vals = [f.partition_values.get(col) for f in self.add_files()]
            arr = pa.array(
                [None if v in (None, "") else str(v) for v in vals],
                type=pa.string(),
            )
            self._partition_arrays[col] = arr
        return arr

    def stats_manifest(self):
        """Parsed add-file stats as ONE columnar pyarrow table (row i =
        ``add_files()[i]``; columns numRecords/minValues/maxValues/
        nullCount as parsed by pyarrow's C++ JSON reader). This is what
        keeps manifest pruning off the per-file-Python-JSON path: at 1M
        add-files a per-file ``json.loads`` + predicate loop is tens of
        driver seconds per query plan; one batched ``read_json`` plus
        vectorized compute is sub-second. Cached (snapshots are
        immutable). None when the batch parse fails (heterogeneous stats
        types across files, exotic layouts) — callers fall back to
        ``AddFile.parsed_stats``."""
        if not self._stats_manifest_built:
            import io

            import pyarrow.json as pj

            files = self.add_files()
            if files and any(f.stats for f in files):
                payload = b"\n".join(
                    (f.stats or "{}").encode("utf-8") for f in files
                )
                try:
                    tbl = pj.read_json(
                        io.BytesIO(payload),
                        parse_options=pj.ParseOptions(newlines_in_values=True),
                    )
                    if tbl.num_rows == len(files):
                        self._stats_manifest = tbl.combine_chunks()
                except Exception:  # noqa: BLE001 - fallback path is exact
                    self._stats_manifest = None
            # flagged only once the manifest is in place: a thread sharing
            # this (cached) snapshot never sees "built" with no manifest
            self._stats_manifest_built = True
        return self._stats_manifest

    def num_records_estimate(self) -> int | None:
        """Sum of per-file numRecords stats — the reference's optimizer
        cardinality (reference: delta_multi_file_list.cpp:1046-1071
        ``GetCardinality``). None when any file lacks stats."""
        total = 0
        for f in self.files.values():
            n = f.num_records
            if n is None:
                return None
            dv = f.deletion_vector
            total += n - int(dv.get("cardinality") or 0) if dv else n
        return total

    def transaction_version(self, app_id: str) -> int | None:
        """Latest committed txn version for an app (reference:
        src/functions/delta_transaction_utils/idempotency_helpers.cpp:41-145)."""
        return self.app_transactions.get(app_id)
