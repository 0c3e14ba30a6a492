"""The three workloads: inputs, table builds and op rounds.

Every workload drives the engine only through its public API
(``DeltaTable``, ``DeltaScanBuilder``, ``DeltaWriter``, ``DeltaLog``,
``DeltaTable.changes``). An op is ``run()`` — the timed call, which
consumes its result — plus ``check(result)``, the untimed comparison
against an expected value the benchmark computed from its own inputs.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
import spec


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def log_stats(table_paths: list[str]) -> tuple[int, int]:
    """(commit JSON bytes, commit count) over the tables' ``_delta_log``."""
    size = count = 0
    for t in table_paths:
        log = os.path.join(t, "_delta_log")
        for n in os.listdir(log):
            if re.fullmatch(r"\d{20}\.json", n):
                size += os.path.getsize(os.path.join(log, n))
                count += 1
    return size, count


def _link_into(src: str, dest_dir: str) -> str:
    dest = os.path.join(dest_dir, os.path.basename(src))
    os.link(src, dest)
    return dest


def commit_file(log, version: int, src: str, stats: dict) -> None:
    """Hard-link one parquet input into the table and commit it alone,
    as an external writer would: one ``add`` with the given stats."""
    name = os.path.basename(_link_into(src, log.table_path))
    now = int(time.time() * 1000)
    log.commit(version, [
        {"commitInfo": {"timestamp": now, "operation": "WRITE",
                        "operationParameters": {"mode": "Append"},
                        "isBlindAppend": True}},
        {"add": {"path": name, "partitionValues": {},
                 "size": os.path.getsize(src), "modificationTime": now,
                 "dataChange": True,
                 "stats": json.dumps(stats, separators=(",", ":"))}},
    ])


class Workload:
    """Shared shape; subclasses fill in inputs, builds and rounds."""

    name = ""
    #: a measured run holds at least this many rounds, however slow the host
    min_rounds = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        os.makedirs(self.inputs)
        self.info: dict = {}

    def make_inputs(self) -> None:
        raise NotImplementedError

    def build(self, dest: str) -> None:
        raise NotImplementedError

    def prepare(self, dest: str) -> None:
        """Point the op rounds at the tables built under ``dest`` (a fresh
        build: the warm-up rounds run on another one)."""
        raise NotImplementedError

    def round(self, rng: random.Random) -> list[Op]:
        raise NotImplementedError

    def tables(self) -> list[str]:
        raise NotImplementedError

    def extra_metrics(self) -> dict:
        return {}

    def _schema(self, parquet_path: str):
        return self.spark.read.parquet(parquet_path).schema


# ---------------------------------------------------------------- tpch_read

_TABLE_RE = re.compile(r"\b(" + "|".join(datagen.TABLE_NAMES) + r")\b")
#: tables split into several commits (plus a checkpoint) in each build
_MULTI_COMMIT = {"lineitem": 3, "orders": 3}


def spark_sql_text(oracle: str) -> str:
    """The registry's ANSI oracle SQL in Spark's dialect: DuckDB's quoted
    ``date_diff`` unit becomes Spark's bare one, and decimal sums take the
    registry's value-identical fixed-point form (what the registry's own
    Spark side runs)."""
    from duckdb_delta_spark.queries import fast_decimal_sums

    return fast_decimal_sums(oracle.replace("date_diff('day',", "date_diff(DAY,"))


def _row_key(row: tuple) -> tuple:
    return tuple(f"{v:.3f}" if isinstance(v, float) else repr(v) for v in row)


def rows_match(got: list, want: list) -> bool:
    """Same multiset of rows; doubles compared to 1e-9 relative."""
    if len(got) != len(want):
        return False
    for a, b in zip(sorted(map(tuple, got), key=_row_key),
                    sorted(map(tuple, want), key=_row_key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


class TpchRead(Workload):
    name = "tpch_read"

    def make_inputs(self) -> None:
        from duckdb_delta_spark.queries import all_queries

        tables = datagen.generate(self.seed, spec.TPCH_SF)
        self.parts: dict[str, list[tuple[str, int]]] = {}
        self.schemas = {}
        for name, tab in tables.items():
            d = os.path.join(self.inputs, name)
            os.makedirs(d)
            n = _MULTI_COMMIT.get(name, 1)
            step = -(-tab.num_rows // n)
            self.parts[name] = []
            for i in range(n):
                part = tab.slice(i * step, step)
                p = os.path.join(d, f"{name}-{i}.parquet")
                pq.write_table(part, p)
                self.parts[name].append((p, part.num_rows))
            self.schemas[name] = self._schema(self.parts[name][0][0])
        oracles = {k: q.oracle for k, q in sorted(all_queries().items())
                   if k.startswith("tpch_")}
        self.queries = {k: spark_sql_text(o) for k, o in oracles.items()}
        self.query_tables = {k: sorted(set(_TABLE_RE.findall(sql)))
                             for k, sql in self.queries.items()}
        self.expected = self._expected(oracles)
        self.info = {
            "queries": len(self.queries),
            "rows": {k: t.num_rows for k, t in tables.items()},
            "input_bytes": _dir_bytes(self.inputs),
        }

    def _expected(self, oracles: dict[str, str]) -> dict[str, list]:
        """Every query's result over the raw parquet inputs, from the
        registry's oracle engine (DuckDB) running the oracle SQL."""
        import duckdb

        con = duckdb.connect(config={"threads": 2})
        try:
            for name in self.parts:
                glob = os.path.join(self.inputs, name, "*.parquet")
                con.execute(f"CREATE VIEW {name} AS "
                            f"SELECT * FROM read_parquet('{glob}')")
            return {k: con.execute(sql).fetchall() for k, sql in oracles.items()}
        finally:
            con.close()

    def build(self, dest: str) -> None:
        from duckdb_delta_spark import DeltaLog, DeltaWriter

        for name, parts in self.parts.items():
            tp = os.path.join(dest, name)
            DeltaWriter.create(self.spark, tp, self.schemas[name])
            log = DeltaLog(tp)
            for v, (p, rows) in enumerate(parts, start=1):
                commit_file(log, v, p, {"numRecords": rows})
            if len(parts) > 1:
                DeltaWriter(tp, self.spark).checkpoint()

    def prepare(self, dest: str) -> None:
        self.root = dest

    def tables(self) -> list[str]:
        return [os.path.join(self.root, n) for n in self.parts]

    def _op(self, qname: str) -> Op:
        from duckdb_delta_spark import DeltaTable

        sql = self.queries[qname]
        names = self.query_tables[qname]

        def run():
            for n in names:
                DeltaTable(os.path.join(self.root, n)).to_df(self.spark) \
                    .createOrReplaceTempView(n)
            return self.spark.sql(sql).collect()

        return Op("query", run, lambda rows: rows_match(rows, self.expected[qname]))

    def round(self, rng: random.Random) -> list[Op]:
        names = sorted(self.queries)
        rng.shuffle(names)
        return [self._op(k) for k in names]


# ------------------------------------------------------------ fragmented_log

class FragmentedLog(Workload):
    name = "fragmented_log"

    def make_inputs(self) -> None:
        li = datagen.generate(self.seed, spec.FRAG_SF)["lineitem"]
        li = li.sort_by("l_orderkey")
        keys = li.column("l_orderkey").to_numpy()
        uniq = np.unique(keys)
        groups = np.array_split(uniq, spec.FRAG_FILES)
        vc = pc.value_counts(li.column("l_orderkey"))
        self.counts = dict(zip(vc.field("values").to_pylist(),
                               vc.field("counts").to_pylist()))
        self.files = []  # (path, rows, min key, max key, keys)
        for i, g in enumerate(groups):
            lo = int(np.searchsorted(keys, g[0], "left"))
            hi = int(np.searchsorted(keys, g[-1], "right"))
            p = os.path.join(self.inputs, f"part-{i:05d}.parquet")
            pq.write_table(li.slice(lo, hi - lo), p)
            self.files.append((p, hi - lo, int(g[0]), int(g[-1]), g.tolist()))
        self.order = list(range(len(self.files)))
        random.Random(self.seed).shuffle(self.order)
        self.schema = self._schema(self.files[0][0])
        self.info = {"rows": li.num_rows, "files": len(self.files),
                     "commits": len(self.files) + 1,
                     "checkpoint_at": spec.FRAG_CHECKPOINT_AT,
                     "input_bytes": _dir_bytes(self.inputs)}

    def build(self, dest: str) -> None:
        from duckdb_delta_spark import DeltaLog, DeltaWriter

        DeltaWriter.create(self.spark, dest, self.schema)
        log = DeltaLog(dest)
        for v, i in enumerate(self.order, start=1):
            path, rows, lo, hi, _ = self.files[i]
            commit_file(log, v, path, {
                "numRecords": rows, "minValues": {"l_orderkey": lo},
                "maxValues": {"l_orderkey": hi},
                "nullCount": {"l_orderkey": 0}})
            if v == spec.FRAG_CHECKPOINT_AT:
                DeltaWriter(dest, self.spark).checkpoint()

    def prepare(self, dest: str) -> None:
        self.root = dest

    def tables(self) -> list[str]:
        return [self.root]

    def _op(self, kind: str, rng: random.Random, stratum: int = 0) -> Op:
        from duckdb_delta_spark import DeltaTable

        n = len(self.order)
        if kind == "travel":
            # a round's travels draw one version from each third of the log
            # (replay cost grows with the version up to the checkpoint), so
            # every round has the same mix of replay lengths
            lo, hi = 1 + n * stratum // 3, n * (stratum + 1) // 3
            version = rng.randint(lo, hi)
            fidx = self.order[rng.randrange(version)]
        else:
            version = None
            fidx = rng.randrange(n)
        key = rng.choice(self.files[fidx][4])
        expected = self.counts[key]
        fname = os.path.basename(self.files[fidx][0])

        def scan():
            return DeltaTable(self.root, version=version).scan(self.spark) \
                .filter("l_orderkey", "=", key)

        if kind == "plan":
            def run():
                sb = scan()
                return sb, sb.to_df()

            def check(res) -> bool:
                sb, df = res
                rep = sb.skip_report()
                return (rep["files_total"] == n and rep["files_scanned"] >= 1
                        and any(f.endswith("/" + fname) for f in df.inputFiles()))

            return Op(kind, run, check)
        return Op(kind, lambda: scan().to_df().count(),
                  lambda got: got == expected)

    def round(self, rng: random.Random) -> list[Op]:
        kinds = [("plan", 0), ("lookup", 0), ("travel", 0), ("travel", 1),
                 ("travel", 2)] + [("plan", 0), ("lookup", 0)] * 2
        rng.shuffle(kinds)
        return [self._op(k, rng, stratum) for k, stratum in kinds]


# ---------------------------------------------------------------- write_mix

class _WriteState:
    """What the table must hold after every op, tracked from the inputs."""

    def __init__(self, path: str, base_keys: list[int], base_rows: int,
                 version: int):
        self.path = path
        self.counts = Counter(base_keys)
        self.live_rows = base_rows
        self.version = version
        self.slice_no = 0
        self.cycle_start = version
        self.cycle_inserts = 0
        self.cycle_deletes = 0


class WriteMix(Workload):
    name = "write_mix"
    # three rounds even when they outlast --seconds on a slowed host, so
    # every run writes at least the same 30 commits and 3 checkpoints
    min_rounds = 3
    #: one cycle: APPENDS appends and one delete in seeded order, then a
    #: read-your-write count and a change-feed read of the cycle's commits
    APPENDS = 4

    def make_inputs(self) -> None:
        li = datagen.generate(self.seed, spec.WRITE_SF)["lineitem"]
        base = li.slice(0, spec.WRITE_BASE_ROWS)
        rest = li.slice(spec.WRITE_BASE_ROWS)
        self.base_path = os.path.join(self.inputs, "base.parquet")
        pq.write_table(base, self.base_path)
        self.base_keys = base.column("l_orderkey").to_pylist()
        self.slices = []  # (path, keys)
        for i in range(rest.num_rows // spec.WRITE_SLICE_ROWS):
            s = rest.slice(i * spec.WRITE_SLICE_ROWS, spec.WRITE_SLICE_ROWS)
            p = os.path.join(self.inputs, f"slice-{i:03d}.parquet")
            pq.write_table(s, p)
            self.slices.append((p, s.column("l_orderkey").to_pylist()))
        # deletes pick keys no slice holds, so each one rewrites the base
        # file's DV alone and every delete commit has the same shape
        appended = {k for _, keys in self.slices for k in keys}
        self.delete_keys = sorted(set(self.base_keys) - appended)
        self.schema = self._schema(self.base_path)
        self.rows_appended = 0
        self.info = {"base_rows": base.num_rows,
                     "slice_rows": spec.WRITE_SLICE_ROWS,
                     "slices": len(self.slices),
                     "checkpoint_interval": spec.WRITE_CHECKPOINT_INTERVAL,
                     "input_bytes": _dir_bytes(self.inputs)}

    def build(self, dest: str) -> None:
        from duckdb_delta_spark import DeltaWriter

        DeltaWriter.create(self.spark, dest, self.schema, configuration={
            "delta.checkpointInterval": str(spec.WRITE_CHECKPOINT_INTERVAL),
            "delta.enableDeletionVectors": "true",
        })
        DeltaWriter(dest, self.spark).append(
            self.spark.read.parquet(self.base_path))

    def _fresh_state(self, dest: str) -> _WriteState:
        return _WriteState(dest, self.base_keys, len(self.base_keys), 1)

    def prepare(self, dest: str) -> None:
        self.state = self._fresh_state(dest)
        self.start_bytes = _dir_bytes(dest)
        self.rows_appended = 0

    def tables(self) -> list[str]:
        return [self.state.path]

    def extra_metrics(self) -> dict:
        added = _dir_bytes(self.state.path) - self.start_bytes
        return {"write_amp_bytes_per_row":
                added / self.rows_appended if self.rows_appended else 0.0}

    def _append(self) -> Op:
        from duckdb_delta_spark import DeltaWriter

        st = self.state
        path, keys = self.slices[st.slice_no % len(self.slices)]
        st.slice_no += 1

        def run():
            return DeltaWriter(st.path, self.spark).append(
                self.spark.read.parquet(path))

        def check(version) -> bool:
            ok = version == st.version + 1
            st.version = version
            st.counts.update(keys)
            st.live_rows += len(keys)
            st.cycle_inserts += len(keys)
            self.rows_appended += len(keys)
            return ok

        return Op("append", run, check)

    def _delete(self, rng: random.Random) -> Op:
        from duckdb_delta_spark import DeltaWriter

        st = self.state

        def run():
            key = rng.choice([k for k in self.delete_keys if st.counts[k]])
            return key, DeltaWriter(st.path, self.spark).delete(
                f"l_orderkey = {key}")

        def check(res) -> bool:
            key, out = res
            expected = st.counts[key]
            version, deleted = out
            ok = version == st.version + 1 and deleted == expected
            st.version = version
            st.counts[key] = 0
            st.live_rows -= deleted
            st.cycle_deletes += deleted
            return ok

        return Op("delete", run, check)

    def _count(self) -> Op:
        from duckdb_delta_spark import DeltaTable

        st = self.state
        return Op("count", lambda: DeltaTable(st.path).to_df(self.spark).count(),
                  lambda n: n == st.live_rows)

    def _cdf(self) -> Op:
        from duckdb_delta_spark import DeltaTable

        st = self.state

        def run():
            return DeltaTable(st.path).changes(
                self.spark, starting_version=st.cycle_start).collect()

        def check(rows) -> bool:
            kinds = Counter(r["_change_type"] for r in rows)
            versions = {r["_commit_version"] for r in rows}
            ok = (kinds == Counter(insert=st.cycle_inserts,
                                   delete=st.cycle_deletes)
                  and versions <= set(range(st.cycle_start + 1,
                                            st.version + 1)))
            st.cycle_start = st.version
            st.cycle_inserts = st.cycle_deletes = 0
            return ok

        return Op("cdf", run, check)

    def _cycle(self, rng: random.Random) -> list[Op]:
        writes = ["append"] * self.APPENDS + ["delete"]
        rng.shuffle(writes)
        ops = [self._append() if w == "append" else self._delete(rng)
               for w in writes]
        return ops + [self._count(), self._cdf()]

    def round(self, rng: random.Random) -> list[Op]:
        # two cycles write ten commits: one checkpoint interval per round
        return self._cycle(rng) + self._cycle(rng)


WORKLOADS = {w.name: w for w in (TpchRead, FragmentedLog, WriteMix)}
