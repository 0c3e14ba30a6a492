"""Run-to-run spread of the end-to-end metrics over several seeds.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload fragmented_log --seeds 1-10

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints for
each end-to-end metric its median, the distance between the first and third
quartile as a share of the median (``statistics.quantiles(n=4)``), the
metric's bound, and whether the spread is within a third of the bound.
Also prints each run's wall time. Exits 1 if any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import spec  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    """``"1-5"`` → [1..5]; ``"3,7,9"`` → [3, 7, 9]."""
    if "-" in text:
        lo, hi = text.split("-", 1)
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=[w.name for w in spec.WORKLOADS])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    args = p.parse_args(argv)

    values: dict[str, list[float]] = {m.name: [] for m in spec.END_TO_END}
    walls = []
    code = 0
    for seed in parse_seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            check=False)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            code = 1
            continue
        res = json.loads(lines[-1])
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: wall {walls[-1]:.1f}s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
    print(f"{args.workload}: wall median {statistics.median(walls):.1f}s "
          f"max {max(walls):.1f}s over {len(walls)} runs")
    for m in spec.END_TO_END:
        vs = values[m.name]
        if len(vs) < 2:
            continue
        sp = metrics.quartile_spread(vs)
        verdict = "ok" if sp < m.bound / 3 else "WIDE"
        print(f"  {m.name:<24} median {statistics.median(vs):12.4f} {m.unit:<5}"
              f" spread {sp:.4f}  bound {m.bound}  {verdict}")
    return code


if __name__ == "__main__":
    sys.exit(main())
