"""The shared snapshot resolver (delta/snapcache.py) and the
constant-round-trip scan plan.

The resolver must be invisible: every resolution equals a fresh
``Snapshot.build`` of the current log, whatever was cached before — a
recreated table, another process's commit, a checkpoint or compacted
segment in between, expired history. Most tables here are written with
``DeltaLog.commit`` directly (no Spark): the resolver only reads the log.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_delta_spark import DeltaTable, DeltaWriter
from duckdb_delta_spark.delta import snapcache
from duckdb_delta_spark.delta.errors import InvalidTableVersionError
from duckdb_delta_spark.delta.log import DeltaLog
from duckdb_delta_spark.delta.snapcache import SnapshotCache
from duckdb_delta_spark.delta.snapshot import Snapshot

SCHEMA = T.StructType([T.StructField("k", T.LongType())])
DV_PROTOCOL = {"minReaderVersion": 3, "minWriterVersion": 7,
               "readerFeatures": ["deletionVectors"],
               "writerFeatures": ["deletionVectors", "domainMetadata"]}


def _create(path: str, table_id: str = "t", protocol: dict | None = None,
            ts: int = 1) -> DeltaLog:
    os.makedirs(os.path.join(path, "_delta_log"))
    log = DeltaLog(path)
    log.commit(0, [
        {"commitInfo": {"timestamp": ts, "operation": "CREATE TABLE"}},
        {"protocol": protocol or {"minReaderVersion": 1,
                                  "minWriterVersion": 2}},
        {"metaData": {"id": table_id, "format": {"provider": "parquet",
                                                 "options": {}},
                      "schemaString": SCHEMA.json(), "partitionColumns": [],
                      "configuration": {}, "createdTime": ts}},
    ])
    return log


def _add(name: str, rows: int = 1, dv: dict | None = None) -> dict:
    a = {"path": name, "partitionValues": {}, "size": 100,
         "modificationTime": 1, "dataChange": True,
         "stats": json.dumps({"numRecords": rows})}
    if dv is not None:
        a["deletionVector"] = dv
    return {"add": a}


def _remove(name: str, dv: dict | None = None) -> dict:
    r = {"path": name, "deletionTimestamp": 5, "dataChange": True}
    if dv is not None:
        r["deletionVector"] = dv
    return {"remove": r}


def _dv(tag: str, card: int) -> dict:
    return {"storageType": "u", "pathOrInlineDv": tag * 20, "offset": 1,
            "sizeInBytes": 34, "cardinality": card}


def _commit_adds(log: DeltaLog, first: int, last: int) -> None:
    for v in range(first, last + 1):
        log.commit(v, [{"commitInfo": {"timestamp": v}},
                       _add(f"f{v:05d}.parquet")])


def _assert_same_state(got: Snapshot, want: Snapshot) -> None:
    assert got.version == want.version
    assert got.files == want.files  # keys and every AddFile field
    assert got.metadata == want.metadata
    assert got.protocol == want.protocol
    assert got.tombstones == want.tombstones
    assert got.dv_tombstones == want.dv_tombstones
    assert got.domain_metadata == want.domain_metadata
    assert got.app_transactions == want.app_transactions


def _held(cache: SnapshotCache) -> int:
    """File entries the cache's states really hold (its counter's truth)."""
    return sum(1 + len(st.snap.files) + len(st.snap.tombstones)
               for states in cache._tables.values() for st in states.values())


def _write_parquet(path: str, value: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": pa.array([value], pa.int64())}), path)


# ------------------------------------------------------------------ (a)

def test_recreated_table_same_sizes_same_mtimes_reads_new_data(spark, tdir):
    """Drop and recreate a table at the same path with commits of the
    same sizes and the same modification times: the cached state is
    keyed on the commit's BYTES, so the new data comes back."""

    def build(name: str, value: int) -> None:
        log = _create(tdir)
        _write_parquet(os.path.join(tdir, name), value)
        log.commit(1, [{"commitInfo": {"timestamp": 7}}, _add(name)])

    build("part-a.parquet", 1)
    assert [r.k for r in DeltaTable(tdir).to_df(spark).collect()] == [1]
    assert snapcache.CACHE.versions(tdir)  # the HEAD is cached
    log_dir = os.path.join(tdir, "_delta_log")
    stats = {n: os.stat(os.path.join(log_dir, n)) for n in os.listdir(log_dir)}

    shutil.rmtree(tdir)
    build("part-b.parquet", 2)
    for n, st in stats.items():
        p = os.path.join(log_dir, n)
        assert os.path.getsize(p) == st.st_size
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))

    assert [r.k for r in DeltaTable(tdir).to_df(spark).collect()] == [2]


# ------------------------------------------------------------------ (b)

def test_commit_through_another_log_or_writer_is_seen(spark, tdir):
    log = _create(tdir)
    _commit_adds(log, 1, 3)
    assert DeltaTable(tdir).version == 3
    DeltaLog(tdir).commit(4, [{"commitInfo": {"timestamp": 4}},
                              _add("x.parquet")])
    t = DeltaTable(tdir)
    assert t.version == 4
    assert any(f.path == "x.parquet" for f in t.snapshot.add_files())

    w = DeltaWriter.create(spark, tdir + "_w", SCHEMA)
    before = DeltaTable(tdir + "_w")
    w.append(spark.createDataFrame([(1,)], SCHEMA))
    DeltaWriter(tdir + "_w", spark).append(
        spark.createDataFrame([(2,)], SCHEMA))
    head = DeltaTable(tdir + "_w")
    assert (before.version, head.version) == (0, 2)
    assert sorted(r.k for r in head.to_df(spark).collect()) == [1, 2]


# ------------------------------------------------------------------ (c)

@pytest.mark.parametrize("every", [snapcache.STATE_EVERY, 3])
def test_cached_resolution_matches_fresh_build_at_every_version(
        spark, tdir, monkeypatch, every):
    """30 commits with DV deletes (add/remove pairs on one path), plain
    removes, a txn, domain metadata set and removed, a checkpoint at 15
    (which drops the expired tombstones) and compacted segments on both
    sides of it: resolving every version in three orders through one
    cache equals a fresh replay each time. Kept states every 3 versions
    land inside the segments, where per-commit replay and the segment's
    reconciled actions leave different tombstones."""
    monkeypatch.setattr(snapcache, "STATE_EVERY", every)
    log = _create(tdir, protocol=DV_PROTOCOL)
    v = 0

    def commit(*actions):
        nonlocal v
        v += 1
        log.commit(v, [{"commitInfo": {"timestamp": v}}, *actions])

    for i in range(4):
        commit(_add(f"a{i}.parquet", rows=10))
    commit(_remove("a1.parquet"))                                   # 5
    commit(_remove("a0.parquet"), _add("a0.parquet", 10, _dv("p", 2)))
    commit(_add("a0.parquet", 10, _dv("q", 3)),                     # add
           _remove("a0.parquet", _dv("p", 2)))                      # first
    commit({"txn": {"appId": "app", "version": 3, "lastUpdated": 9}})
    commit({"domainMetadata": {"domain": "d1", "configuration": "{}",
                               "removed": False}})
    for i in range(4, 10):
        commit(_add(f"a{i}.parquet"))                               # 10-15
    before = SnapshotCache()
    before.resolve(DeltaLog(tdir))  # HEAD 15, replayed from version 0
    DeltaWriter(tdir, spark).checkpoint()
    # a checkpoint AT the cached version starts a new lineage: the pure
    # build now reads it (and its expired tombstones are gone)
    _assert_same_state(before.resolve(DeltaLog(tdir)),
                       Snapshot.build(DeltaLog(tdir)))
    commit({"domainMetadata": {"domain": "d1", "configuration": "{}",
                               "removed": True}})                   # 16
    commit(_remove("a2.parquet"))
    commit(_remove("a4.parquet"), _add("a4.parquet", 1, _dv("r", 1)))
    commit({"txn": {"appId": "app", "version": 4, "lastUpdated": 10}})
    for i in range(10, 21):
        commit(_add(f"a{i}.parquet"))                               # 20-30
    assert v == 30
    w = DeltaWriter(tdir, spark)
    w.compact_log(2, 8)
    w.compact_log(20, 24)

    versions = list(range(31))
    orders = [versions, versions[::-1], random.Random(7).sample(versions, 31)]
    for order in orders:
        cache = SnapshotCache()
        for ver in order:
            got = cache.resolve(DeltaLog(tdir), ver)
            _assert_same_state(got, Snapshot.build(DeltaLog(tdir), ver))
    # a caller-held base from another lineage never leaks into the result
    old = Snapshot.build(DeltaLog(tdir), 12)
    cache = SnapshotCache()
    _assert_same_state(cache.resolve(DeltaLog(tdir), 30, base=old),
                       Snapshot.build(DeltaLog(tdir), 30))


# ------------------------------------------------------------------ (d)

def test_expired_cached_version_still_raises(spark, tdir):
    log = _create(tdir)
    _commit_adds(log, 1, 12)
    for ver in (0, 5):
        assert DeltaTable(tdir, version=ver).version == ver
    assert 0 in snapcache.CACHE.versions(tdir)
    w = DeltaWriter(tdir, spark)
    w.checkpoint()
    _commit_adds(log, 13, 14)
    assert w.cleanup_expired_logs(retention_ms=0)
    for ver in (0, 5):
        with pytest.raises(InvalidTableVersionError):
            DeltaTable(tdir, version=ver)
    assert DeltaTable(tdir).version == 14
    assert DeltaTable(tdir, version=12).version == 12


# ------------------------------------------------------------------ (e)

def test_log_tail_and_commit_fn_bypass_the_cache(spark, tdir):
    log = _create(tdir)
    _commit_adds(log, 1, 3)
    cache = SnapshotCache()
    tail = [os.path.join(tdir, "_delta_log", f"{v:020d}.json")
            for v in range(3)]
    snap = cache.resolve(DeltaLog(tdir, log_tail=tail))
    assert snap.version == 2 and cache.versions(tdir) == []

    def commit_fn(version, payload):
        path = os.path.join(tdir, "_delta_log", f"{version:020d}.json")
        with open(path, "xb") as f:
            f.write(payload)
        return path

    snap = cache.resolve(DeltaLog(tdir, commit_fn=commit_fn))
    assert snap.version == 3 and cache.versions(tdir) == []
    assert cache.entries() == 0
    # the public entry points honor the same bypass
    assert DeltaTable(tdir, log_tail=tail).version == 2
    assert DeltaWriter(tdir, spark, commit_fn=commit_fn)._snapshot.version == 3
    assert snapcache.CACHE.versions(tdir) == []


# ------------------------------------------------------------------ (f)

def test_threads_see_non_decreasing_head_while_a_writer_appends(tdir):
    """8 threads (more than the cores) resolve HEAD through one cache
    while a writer appends, with a short switch interval: each thread's
    versions never go back, every snapshot is whole (one file per
    commit), and the cache's entry counter matches what it holds."""
    log = _create(tdir)
    last = 40
    cache = SnapshotCache()
    seen: list[list[int]] = [[] for _ in range(8)]
    errors: list[BaseException] = []
    done = threading.Event()

    def reader(i: int) -> None:
        try:
            while True:
                finished = done.is_set()
                s = cache.resolve(DeltaLog(tdir))
                assert len(s.files) == s.version
                seen[i].append(s.version)
                if finished:
                    return
        except Exception as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        try:
            _commit_adds(log, 1, last)
        finally:
            done.set()
            for t in threads:
                t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for versions in seen:
        assert versions == sorted(versions)
        assert versions[-1] == last
    assert cache.entries() == _held(cache)


# ------------------------------------------------------------------ (g)

def test_time_travel_stays_within_the_entry_budget(tdir, monkeypatch):
    log = _create(tdir)
    _commit_adds(log, 1, 400)
    rng = random.Random(3)
    cache = SnapshotCache()
    for ver in rng.sample(range(401), 50):
        assert len(cache.resolve(DeltaLog(tdir), ver).files) == ver
        assert cache.entries() == _held(cache) <= snapcache.ENTRY_BUDGET
    assert len(cache.versions(tdir)) > 1  # sparse states were kept
    assert snapcache.CACHE.entries() <= snapcache.ENTRY_BUDGET

    # the budget binds: squeezed, the cache evicts and stays correct
    monkeypatch.setattr(snapcache, "ENTRY_BUDGET", 600)
    cache = SnapshotCache()
    for ver in rng.sample(range(401), 50):
        assert len(cache.resolve(DeltaLog(tdir), ver).files) == ver
        assert cache.entries() == _held(cache) <= 600
    # a moving HEAD supersedes the older HEAD state instead of piling up
    for v in range(401, 406):
        _commit_adds(log, v, v)
        assert cache.resolve(DeltaLog(tdir)).version == v
    assert [v for v in cache.versions(tdir) if v > 400] == [405]
    assert cache.entries() == _held(cache) <= 600


def test_unchanged_head_is_the_cached_snapshot(tdir):
    log = _create(tdir)
    _commit_adds(log, 1, 5)
    first = DeltaTable(tdir).snapshot
    assert DeltaTable(tdir).snapshot is first
    _commit_adds(log, 6, 6)
    calls = []
    real = DeltaLog.read_commit

    def counting(self, version):
        calls.append(version)
        return real(self, version)

    DeltaLog.read_commit = counting
    try:
        second = DeltaTable(tdir).snapshot
    finally:
        DeltaLog.read_commit = real
    assert second.version == 6 and calls == [6]  # only the new tail
    assert first.version == 5 and len(first.files) == 5  # never mutated


def test_older_table_keeps_its_rows_after_later_writes(spark, tdir):
    DeltaWriter.create(spark, tdir, SCHEMA, configuration={
        "delta.enableDeletionVectors": "true"})
    DeltaWriter(tdir, spark).append(
        spark.createDataFrame([(i,) for i in range(10)], SCHEMA))
    old = DeltaTable(tdir)
    w = DeltaWriter(tdir, spark)
    w.append(spark.createDataFrame([(10,)], SCHEMA))
    w.delete("k < 3")
    w.merge(spark.createDataFrame([(5,), (20,)], SCHEMA), "t.k = s.k",
            when_matched_delete=True)
    assert sorted(r.k for r in old.to_df(spark).collect()) == list(range(10))
    assert sorted(r.k for r in DeltaTable(tdir).to_df(spark).collect()) == \
        [3, 4, 6, 7, 8, 9, 10, 20]


# ------------------------------------------------------------------ (h)

def _count_round_trips(spark, fn):
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    n = [0]

    def counting(*a, **k):
        n[0] += 1
        return real(*a, **k)

    client.send_command = counting
    try:
        out = fn()
    finally:
        client.send_command = real
    return n[0], out


def test_to_df_py4j_round_trips_are_constant(spark, tdir):
    """A 16-column unpartitioned scan with pushed predicates plans in a
    bounded number of Py4J calls (it took hundreds: a per-column
    identity projection and per-literal Column building)."""
    cols = [T.StructField(f"c{i}", T.LongType() if i % 2 == 0
                          else T.StringType()) for i in range(16)]
    schema = T.StructType(cols)
    DeltaWriter.create(spark, tdir, schema)
    df = spark.range(20).select(*[
        (F.col("id") if i % 2 == 0 else F.col("id").cast("string"))
        .alias(f"c{i}") for i in range(16)])
    DeltaWriter(tdir, spark).append(df.coalesce(1))

    def plan():
        return (DeltaTable(tdir).scan(spark).filter("c0", ">=", 5)
                .filter("c1", "in", ["5", "6", "it's"]).to_df())

    plan()  # first call warms py4j's class lookups
    n, out = _count_round_trips(spark, plan)
    assert n <= 25, n
    assert out.columns == [f"c{i}" for i in range(16)]
    assert sorted(r.c0 for r in out.collect()) == [5, 6]
