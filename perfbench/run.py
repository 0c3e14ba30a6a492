"""Delta-engine benchmark: one workload, one seed, one run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload tpch_read --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload

Each run starts Spark ``local[nproc]``, generates its inputs from the seed,
builds the workload's Delta tables ``SETUP_REPEATS`` times under a private
directory in ``perfbench/.work`` (removed on exit), warms up, then runs
whole rounds of the workload's op mix with one closed-loop client until
``--seconds`` have passed. Every op's result is checked; any failed or
wrong op makes the run exit 1.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds (ABBA order, at least four rounds), wraps the
engine's public entry points from :mod:`layers`, and prints the per-layer
metrics, including the tracing overhead (traced minus untraced op p50).
Spans are written to ``perfbench/out/`` when the run ends.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import layers  # noqa: E402
import metrics  # noqa: E402
import spec  # noqa: E402
from spans import Tracer  # noqa: E402

#: the run is abandoned (exit 3, no result) after this many seconds
DEADLINE_S = 170
#: no new round starts after this many seconds since the process began
LAST_ROUND_START_S = 120
#: trace mode needs an untraced/traced/traced/untraced sequence at least
MIN_TRACE_ROUNDS = 4
CANARY_ITERS = 2_000_000
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_canary() -> float:
    """Pure-Python loop iterations per second: a calibration of the host's
    CPU speed at the time of the run, recorded next to the results."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CANARY_ITERS):
        acc += i
    return CANARY_ITERS / (time.perf_counter() - t0)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds a process has used, from /proc."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Run:
    """One workload run: session, set-up, measured rounds, results."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload_name = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_start = time.perf_counter()
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-",
                                     dir=os.path.join(HERE, ".work"))
        self.spark = None
        self.jvm = None
        self.info: dict = {}
        self.ops: list[dict] = []  # {id, kind, round, traced, latency, ok, jobs, tasks}
        self.tracer = Tracer()

    # ---------------------------------------------------------- session

    def start_spark(self) -> float:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        # keep every file Spark, the JVM and Python write inside the run dir
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")
        from duckdb_delta_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=cpus)
        dt = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.jvm = sc._gateway.proc
        import pyspark

        self.info.update({
            "spark_master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "cores": sc.defaultParallelism,
            "pyspark_version": pyspark.__version__,
        })
        return dt

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.jvm is not None:
            # the JVM exits when its stdin closes; wait for it
            try:
                self.jvm.stdin.close()
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait(timeout=10)
            self.jvm = None

    def peak_rss_mb(self) -> tuple[float, float]:
        """(driver Python process, Spark JVM) peak RSS in MB."""
        return vm_hwm_mb("self"), vm_hwm_mb(self.jvm.pid)

    # ---------------------------------------------------------- the run

    def execute(self) -> dict:
        from workloads import WORKLOADS, log_stats

        canary_pre = cpu_canary()
        get_spark_s = self.start_spark()
        t0 = time.perf_counter()
        self.spark.range(1000).count()  # first job: JVM class loading
        jvm_warm_s = time.perf_counter() - t0

        wl = WORKLOADS[self.workload_name](self.spark, self.work, self.seed)
        t0 = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t0
        build_s = []
        dests = []
        for k in range(spec.SETUP_REPEATS):
            dest = os.path.join(self.work, "tables", f"build-{k}")
            os.makedirs(dest)
            t0 = time.perf_counter()
            wl.build(dest)
            build_s.append(time.perf_counter() - t0)
            dests.append(dest)
        t0 = time.perf_counter()
        self.warm_up(wl, dests[0])
        warmup_s = jvm_warm_s + time.perf_counter() - t0
        wl.prepare(dests[-1])
        log(f"set-up: spark {get_spark_s:.2f}s, inputs {inputs_s:.2f}s, "
            f"builds {[round(b, 2) for b in build_s]}, warm-up {warmup_s:.2f}s")

        if self.trace:
            layers.install(self.tracer, self.spark)
        cpu0 = cpu_s("self"), cpu_s(self.jvm.pid)
        self.measure(wl)
        # CPU seconds per measured op: when a run is slow and these rise
        # with it, the host ran the same work slower (calibration only)
        ops = max(1, len(self.ops))
        self.info["measure_cpu_s_per_op"] = {
            "driver": (cpu_s("self") - cpu0[0]) / ops,
            "jvm": (cpu_s(self.jvm.pid) - cpu0[1]) / ops}
        if self.trace:
            self.tracer.unwrap_all()

        log_bytes, commits = log_stats(wl.tables())
        driver_rss, jvm_rss = self.peak_rss_mb()
        self.info.update({
            "seed": self.seed,
            "workload": self.workload_name,
            "workload_spec": dataclasses.asdict(next(
                w for w in spec.WORKLOADS if w.name == self.workload_name)),
            "sizes": wl.info,
            "log_commits": commits,
            "canary_iters_per_s": {"before": canary_pre,
                                   "after": cpu_canary()},
            "setup": {"get_spark_s": get_spark_s, "inputs_s": inputs_s,
                      "builds_s": build_s, "warmup_s": warmup_s},
        })
        return {
            "get_spark_s": get_spark_s,
            "tables_s": statistics.median(build_s),
            "warmup_s": warmup_s,
            "driver_peak_rss_mb": driver_rss,
            "jvm_peak_rss_mb": jvm_rss,
            "log_bytes_per_commit": log_bytes / commits,
            **wl.extra_metrics(),
        }

    def warm_up(self, wl, dest: str) -> None:
        """Rounds of ops on the first build until ``WARMUP_SECONDS`` have
        passed: op latencies fall for the first ~15-20 s of a fresh JVM
        (JIT), and timing only after that keeps the run-to-run spread down.
        It stops after the op that crosses the limit, not at the end of its
        round, so its length does not jump by a round (write_mix: ~8 s)."""
        wl.prepare(dest)
        rng = random.Random(self.seed + 1)
        t0 = time.perf_counter()
        while True:
            for op in wl.round(rng):
                if not op.check(op.run()):
                    raise RuntimeError(f"warm-up {op.kind} returned a wrong result")
                if time.perf_counter() - t0 >= spec.WARMUP_SECONDS:
                    return

    def measure(self, wl) -> None:
        rng = random.Random(self.seed)
        sc = self.spark.sparkContext
        need = max(wl.min_rounds, MIN_TRACE_ROUNDS if self.trace else 1)
        t0 = time.perf_counter()
        rnd = 0
        while True:
            elapsed = time.perf_counter() - t0
            if rnd >= need and (elapsed >= self.seconds or
                                time.perf_counter() - self.t_start
                                > LAST_ROUND_START_S):
                break
            traced = self.trace and rnd % 4 in (1, 2)
            self.tracer.active = traced
            for op in wl.round(rng):
                rec = {"id": len(self.ops), "kind": op.kind, "round": rnd,
                       "traced": traced, "ok": False, "latency": None}
                self.ops.append(rec)
                if traced:
                    self.tracer.op_id = rec["id"]
                    sc.setJobGroup(f"perfbench-op-{rec['id']}", op.kind)
                try:
                    with self.tracer.span("op") as s:
                        if s is not None:
                            s.attrs["kind"] = op.kind
                        t = time.perf_counter()
                        result = op.run()
                        rec["latency"] = time.perf_counter() - t
                    rec["ok"] = bool(op.check(result))
                except Exception:  # noqa: BLE001 - a failed op is counted
                    log(f"op {rec['id']} ({op.kind}) raised:\n"
                        + traceback.format_exc())
                finally:
                    if traced:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                        self.tracer.op_id = None
                if not rec["ok"]:
                    log(f"op {rec['id']} ({op.kind}) failed its check")
            self.tracer.active = False
            if traced:
                self.count_spark_work([r for r in self.ops if r["round"] == rnd])
            rnd += 1
        self.info["rounds"] = rnd
        self.info["measured_s"] = time.perf_counter() - t0

    def count_spark_work(self, recs: list[dict]) -> None:
        """Jobs and tasks each op ran, by its job group, through the public
        status tracker (read after the round, once the listener caught up)."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.perf_counter() + 5
        while tracker.getActiveJobsIds() and time.perf_counter() < deadline:
            time.sleep(0.05)
        for rec in recs:
            jobs = tracker.getJobIdsForGroup(f"perfbench-op-{rec['id']}")
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += (st.numCompletedTasks + st.numFailedTasks
                                  + st.numActiveTasks)
            rec["jobs"] = len(jobs)
            rec["tasks"] = tasks

    # ---------------------------------------------------------- results

    def summarize(self, base: dict) -> tuple[dict, dict]:
        """(end-to-end metrics, per-layer metrics) as {name: value}."""
        attempted = len(self.ops)
        failed = sum(1 for r in self.ops if not r["ok"])
        untraced = [r for r in self.ops if not r["traced"]
                    and r["latency"] is not None]
        lat = [r["latency"] for r in untraced]
        if not lat:
            raise RuntimeError("no op completed")
        by_round: dict[int, list[float]] = {}
        for r in untraced:
            by_round.setdefault(r["round"], []).append(r["latency"])
        lat_sum = metrics.latency_summary(list(by_round.values()))
        setup_s = base["get_spark_s"] + base["tables_s"] + base["warmup_s"]
        e2e = {
            "op_p50_ms": lat_sum["p50_ms"],
            "op_p90_ms": lat_sum["p90_ms"],
            "ops_per_s": lat_sum["ops_per_s"],
            "driver_peak_rss_mb": base["driver_peak_rss_mb"],
            "log_bytes_per_commit": base["log_bytes_per_commit"],
            "setup_s": setup_s,
        }
        by_kind: dict[str, list[float]] = {}
        for r in untraced:
            by_kind.setdefault(r["kind"], []).append(r["latency"])
        self.info["op_kinds"] = {
            k: {"n": len(v), "p50_ms": metrics.percentile(v, 50) * 1000,
                "p90_ms": metrics.percentile(v, 90) * 1000}
            for k, v in sorted(by_kind.items())}
        self.info["fail_ratio"] = metrics.fail_ratio(failed, attempted)
        self.info["write_amp_bytes_per_row"] = base.get(
            "write_amp_bytes_per_row", 0.0)
        self.info["samples"] = len(lat)

        layer = {
            "session.get_spark_s": base["get_spark_s"],
            "setup.tables_s": base["tables_s"],
            "setup.warmup_s": base["warmup_s"],
            "spark.jvm_peak_rss_mb": base["jvm_peak_rss_mb"],
            "op.fail_ratio": self.info["fail_ratio"],
            "op.write_amp_bytes_per_row": self.info["write_amp_bytes_per_row"],
        }
        for kind in ("plan", "lookup", "travel", "append", "delete", "cdf"):
            v = by_kind.get(kind)
            layer[f"op.{kind}_p50_ms"] = (
                metrics.percentile(v, 50) * 1000 if v else 0.0)
        if self.trace:
            traced = [r for r in self.ops if r["traced"]]
            layer.update(layers.per_layer(self.tracer.spans, traced))
            traced_lat = [r["latency"] for r in traced
                          if r["latency"] is not None]
            layer["trace.overhead_ms"] = (
                metrics.percentile(traced_lat, 50) * 1000 - e2e["op_p50_ms"])
        return e2e, layer

    def remove_work_dir(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # another run is using it

    def kill(self) -> None:
        """Stop the JVM without Spark's shutdown and remove the run dir."""
        if self.jvm is not None:
            self.jvm.kill()
            self.jvm.wait(timeout=10)
        self.remove_work_dir()

    def cleanup(self) -> None:
        try:
            self.stop_spark()
        finally:
            self.remove_work_dir()


def print_report(workload: str, e2e: dict, layer: dict, info: dict,
                 trace: bool) -> None:
    units = {m.name: m.unit for m in spec.END_TO_END + spec.PER_LAYER}
    print(f"== {workload} seed={info['seed']} trace={int(trace)} "
          f"master={info['spark_master']} cores={info['cores']} "
          f"pyspark={info['pyspark_version']} rounds={info['rounds']} "
          f"samples={info['samples']}")
    ws = info["workload_spec"]
    print(f"   client: {ws['client']}; checkpoints: {ws['checkpoint_policy']}")
    print(f"   sizes: {json.dumps(info['sizes'], sort_keys=True)}")
    for name, v in e2e.items():
        print(f"   {name:<28} {v:12.4f} {units[name]}")
    for kind, s in info["op_kinds"].items():
        print(f"   {kind + '_p50_ms':<28} {s['p50_ms']:12.4f} ms  (n={s['n']})")
    print(f"   {'fail_ratio':<28} {info['fail_ratio']:12.4f} ratio")
    if info["write_amp_bytes_per_row"]:
        print(f"   {'write_amp_bytes_per_row':<28} "
              f"{info['write_amp_bytes_per_row']:12.4f} B/row")
    if trace:
        for name, v in layer.items():
            print(f"   {name:<28} {v:12.4f} {units[name]}")


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "duckdb_delta_spark",
                                       "__init__.py")):
        log(f"the engine package duckdb_delta_spark is not under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))

    def abandon(signum, frame):
        # an exception raised here can land in a py4j finalizer and be
        # swallowed, so stop the JVM, drop the run dir and leave at once
        log(f"stopped by signal {signum}")
        run.kill()
        os._exit(3 if signum == signal.SIGALRM else 128 + signum)

    signal.signal(signal.SIGALRM, abandon)
    signal.signal(signal.SIGTERM, abandon)
    signal.alarm(DEADLINE_S)
    try:
        base = run.execute()
        e2e, layer = run.summarize(base)
    except Exception:  # noqa: BLE001 - report and exit without a result
        log("run failed:\n" + traceback.format_exc())
        return 3
    finally:
        try:
            run.cleanup()
        finally:
            signal.alarm(0)

    attempted = len(run.ops)
    failed = sum(1 for r in run.ops if not r["ok"])
    chosen = spec.PER_LAYER if args.trace else spec.END_TO_END
    values = layer if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m.name: {"value": values[m.name], "unit": m.unit}
                    for m in chosen},
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump({"result": result, "end_to_end": e2e, "per_layer": layer,
                   "info": run.info, "ops": run.ops}, f, indent=1)
    if args.trace:
        run.tracer.write_jsonl(stem + "-spans.jsonl")
    print_report(args.workload, e2e, layer, run.info, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload in turn, each in its own process; one table."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for w in spec.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w.name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              check=False)
        lines = proc.stdout.strip().splitlines()
        code = code or proc.returncode
        if not lines or not lines[-1].startswith("{"):
            combined["correct"] = False
            continue
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for name, m in res["metrics"].items():
            combined["metrics"][f"{w.name}.{name}"] = m
    print(json.dumps(combined), flush=True)
    return code


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=[w.name for w in spec.WORKLOADS] + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
