#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload sql_analytics lakehouse_refresh \
        --seeds 1-10

Runs ``run.py --trace 0`` for each seed, the workloads alternating, for
``run_seconds`` of ``BENCHMARK.json``. Before each run it times a fixed
single-threaded loop (median of three) and prints it and the host's
stolen CPU seconds of the timed phase beside the figures, so host
slowdowns show. For every metric of the result line it then prints the
median and (Q3 - Q1) / median with quartiles as
``statistics.quantiles(values, n=4)`` gives them — the steadiness
figure the benchmark's bounds are judged against.
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

from lhbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def host_probe_s() -> float:
    def once():
        t0 = time.perf_counter()
        s = 0
        for i in range(3_000_000):
            s += i * i % 7
        return time.perf_counter() - t0
    return statistics.median(once() for _ in range(3))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", nargs="+", required=True)
    p.add_argument("--seeds", default="1-5")
    a = p.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        seconds = str(json.load(fh)["run_seconds"])
    values: dict[str, dict[str, list[float]]] = {w: {} for w in a.workload}
    for seed in seeds(a.seeds):
        for wl in a.workload:
            probe = host_probe_s()
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 wl, "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                cwd=root, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}")
                return 1
            res = json.loads(lines[-1])
            phase = json.loads(lines[-2])["record"]["phases"]["untraced"]
            print(json.dumps({"workload": wl, "seed": seed,
                              "run_s": round(time.time() - t0, 1),
                              "host_probe_s": round(probe, 4),
                              "host_steal_s": round(phase["host_steal_s"], 2),
                              **res}),
                  flush=True)
            for k, v in res["metrics"].items():
                values[wl].setdefault(k, []).append(v["value"])
    for wl, metrics in values.items():
        for k, vs in metrics.items():
            spread = f"{quartile_spread(vs):.3f}" if len(vs) >= 2 else "-"
            print(f"{wl:18s} {k:16s} median={statistics.median(vs):.5g} "
                  f"spread={spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
