"""The benchmark's definition: workloads, metrics, bounds and the layer map.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/spec.py > BENCHMARK.json``); a test checks the two
agree. The facts ``BENCHMARK.json`` has no room for live here (client
model, sizes, checkpoint policy) and in ``perfbench/README.md`` (which
end-to-end metric each layer metric should move).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

#: one measured run lasts at least this long; it always finishes the round
#: it is in (a round is one pass over the workload's op mix). A warm
#: write_mix round takes 6.5-9 s on 4 cores and a run holds at least three,
#: so it holds exactly three for any round of 6.7 s or longer, and nearly
#: every run writes the same number of commits and checkpoints
RUN_SECONDS = 20

#: untimed whole rounds on a separate build before measuring
WARMUP_SECONDS = 15

#: table builds per run; setup_s uses their median
SETUP_REPEATS = 3


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    client: str
    sizes: str
    checkpoint_policy: str
    #: listed in BENCHMARK.json (the gated set); the others run on request
    gated: bool = True


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None  # end-to-end metrics only


CLIENT = "closed loop, 1 client, Spark local[nproc]"

TPCH_SF = 0.01
FRAG_SF = 0.02
FRAG_FILES = 2000
FRAG_CHECKPOINT_AT = 1000
WRITE_SF = 0.01
WRITE_BASE_ROWS = 20_000
WRITE_SLICE_ROWS = 1_000
WRITE_CHECKPOINT_INTERVAL = 10

WORKLOADS = [
    Workload(
        "fragmented_log",
        f"lineitem in {FRAG_FILES} one-file commits with a checkpoint at "
        f"{FRAG_CHECKPOINT_AT}: plan, HEAD lookup and time-travel lookup "
        "stress listing, log replay and pruning",
        CLIENT,
        f"sf{FRAG_SF} lineitem (120k rows) sorted by l_orderkey into "
        f"{FRAG_FILES} files with l_orderkey min/max stats, committed one "
        "file per commit in seeded order",
        f"one checkpoint at version {FRAG_CHECKPOINT_AT}, JSON tail after",
    ),
    Workload(
        "write_mix",
        "cycles of 1k-row appends, a DV delete, a read-your-write count "
        "and a change-feed read on a fresh table: writer, commit, DV, CDF "
        "and checkpoint paths",
        CLIENT,
        f"fresh {WRITE_BASE_ROWS}-row lineitem-derived table per run; "
        f"{WRITE_SLICE_ROWS}-row append slices",
        f"delta.checkpointInterval={WRITE_CHECKPOINT_INTERVAL} "
        "(one checkpoint per round of two cycles)",
    ),
    Workload(
        "tpch_read",
        "22 TPC-H queries over Delta tables resolved at HEAD per query: "
        "host-engine execution dominates, snapshot work is small",
        CLIENT,
        f"sf{TPCH_SF} generated tables (lineitem 60k rows); lineitem and "
        "orders in 3 one-file commits, the rest in 1",
        "checkpoint after the last commit of lineitem and orders",
        # one round of 22 queries takes ~18 s on 4 cores, so a run's p50
        # rests on 22 heterogeneous samples: too few to be steady within
        # the time the gated set may take (see README.md)
        gated=False,
    ),
]

GATED = [w for w in WORKLOADS if w.gated]

#: timing bounds are wide because the host's CPU speed varies: a pure-CPU
#: loop timed every 0.5 s on a 4-vCPU virtual machine had an interquartile range
#: of 10-30% of its median over 90 s (perfbench/README.md)
END_TO_END = [
    Metric("op_p50_ms", "ms", "lower", bound=0.25),
    Metric("op_p90_ms", "ms", "lower", bound=0.25),
    Metric("ops_per_s", "1/s", "higher", bound=0.25),
    Metric("driver_peak_rss_mb", "MB", "lower", bound=0.1),
    Metric("log_bytes_per_commit", "B", "lower", bound=0.05),
    Metric("setup_s", "s", "lower", bound=0.25),
]

#: the layer each metric belongs to and the end-to-end metric it should
#: move are tabulated in perfbench/README.md
PER_LAYER = [Metric(name, unit, "lower") for name, unit in [
    ("session.get_spark_s", "s"),
    ("setup.tables_s", "s"),
    ("setup.warmup_s", "s"),
    ("log.list_log_files.ms", "ms"),
    ("log.read_commit.ms", "ms"),
    ("log.read_commit.calls", "count"),
    ("log.read_checkpoint.ms", "ms"),
    ("log.commit.ms", "ms"),
    ("snapshot.build.ms", "ms"),
    ("snapshot.build.calls_per_op", "count"),
    ("snapshot.files", "count"),
    ("table.resolve.ms", "ms"),
    ("scan.to_df.ms", "ms"),
    ("scan.files_scanned_ratio", "ratio"),
    ("spark.jvm_peak_rss_mb", "MB"),
    ("spark.sql.ms", "ms"),
    ("spark.collect.ms", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("writer.append.ms", "ms"),
    ("writer.delete.ms", "ms"),
    ("writer.checkpoint.ms", "ms"),
    ("writer.checkpoint.calls", "count"),
    ("writer.files_per_commit", "count"),
    ("dv.files_written", "count"),
    ("dv.bytes_written", "B"),
    ("changes.plan.ms", "ms"),
    ("changes.collect.ms", "ms"),
    ("op.self.ms", "ms"),
    ("op.plan_p50_ms", "ms"),
    ("op.lookup_p50_ms", "ms"),
    ("op.travel_p50_ms", "ms"),
    ("op.append_p50_ms", "ms"),
    ("op.delete_p50_ms", "ms"),
    ("op.cdf_p50_ms", "ms"),
    ("op.fail_ratio", "ratio"),
    ("op.write_amp_bytes_per_row", "B/row"),
    ("trace.overhead_ms", "ms"),
    ("trace.spans_per_op", "count"),
]]


def benchmark_json() -> dict:
    """The contents of ``BENCHMARK.json``."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in GATED],
        "end_to_end": [{"name": m.name, "unit": m.unit, "better": m.better,
                        "bound": m.bound} for m in END_TO_END],
        "per_layer": [{"name": m.name, "unit": m.unit, "better": m.better}
                      for m in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
