"""DeltaCatalog: attach-style named tables with snapshot caching.

Reference analogue: ``ATTACH 'path' AS n (TYPE delta, PIN_SNAPSHOT,
VERSION => v)`` — single-table catalog with per-entry snapshot cache and
incremental refresh (reference: src/delta_extension.cpp:21-79,
src/storage/delta_catalog.cpp:25-119, delta_schema_entry.cpp:108-221).

``attach`` registers a Spark temp view so ``spark.sql`` sees the table; an
unpinned entry re-resolves HEAD on each ``table()`` call through the shared
snapshot resolver (delta/snapcache.py): only the new log tail is read — the
analogue of delta_multi_file_list.cpp:706-718.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from duckdb_delta_spark.delta.errors import InvalidTableVersionError
from duckdb_delta_spark.delta.table import DeltaTable


@dataclass
class _Entry:
    path: str
    pinned: bool
    version: int | None
    table: DeltaTable
    df: DataFrame | None = None  # planned DataFrame, cached per snapshot


class DeltaCatalog:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._entries: dict[str, _Entry] = {}

    def attach(
        self,
        name: str,
        path: str,
        version: int | None = None,
        pin_snapshot: bool = False,
        timestamp=None,
    ) -> DeltaTable:
        """``timestamp``: the ``AT (TIMESTAMP => ...)`` clause — attach
        pinned at the latest version committed at or before it."""
        table = DeltaTable(path, version=version, timestamp=timestamp)
        if timestamp is not None:
            version = table.version
        entry = _Entry(table.path, pin_snapshot or version is not None,
                       version, table)
        self._entries[name] = entry
        self._register_view(name, entry)
        return table

    def detach(self, name: str) -> None:
        self._entries.pop(name, None)
        self.spark.catalog.dropTempView(name)

    def table(self, name: str, version: int | None = None) -> DeltaTable:
        """Resolve a table; ``version`` = the ``AT (VERSION => n)`` clause."""
        entry = self._entries[name]
        if version is not None:
            if entry.table.version == version:
                return entry.table
            # the shared resolver picks the replay start: the entry's own
            # snapshot when it precedes the target, else a cached state
            return DeltaTable(entry.path, version=version,
                              snapshot=entry.table.snapshot)
        if entry.pinned:
            return entry.table
        refreshed = entry.table.refreshed()
        if refreshed.version != entry.table.version:
            entry.table = refreshed
            entry.df = None
            self._register_view(name, entry)
        return entry.table

    def to_df(self, name: str, version: int | None = None,
              where: str | None = None) -> DataFrame:
        self.table(name, version)  # refresh unpinned entries
        entry = self._entries[name]
        if where is not None:
            # filtered reads bypass the cached full-scan plan: the WHERE
            # prunes the manifest, so the file list differs per clause
            return self.table(name, version).to_df(self.spark, where=where)
        if version is not None and version != entry.table.version:
            return DeltaTable(entry.path, version=version).to_df(self.spark)
        if entry.df is None:
            entry.df = entry.table.to_df(self.spark)
        return entry.df

    def _register_view(self, name: str, entry: _Entry) -> None:
        # plan once; the temp view and to_df() share the same DataFrame
        if entry.df is None:
            entry.df = entry.table.to_df(self.spark)
        # this is the one call site that can SHADOW a register_views
        # base-table view (attach under e.g. 'lineitem'): invalidate the
        # registration memo for the name so the next register_views call
        # re-registers instead of trusting a stale memo hit (zero cost
        # on the query hot path — only attaches pay it)
        seen = getattr(self.spark, "_graft_views", None)
        if seen is not None:
            seen.difference_update({k for k in seen if k[1] == name})
        entry.df.createOrReplaceTempView(name)

    def __contains__(self, name: str) -> bool:
        return name in self._entries

    def names(self) -> list[str]:
        return sorted(self._entries)

    def time_travel_versions(self, name: str) -> list[int]:
        entry = self._entries[name]
        commits, _ = entry.table.log.list_log_files()
        if not commits:
            raise InvalidTableVersionError(f"no commits for {name}")
        return sorted(commits)
