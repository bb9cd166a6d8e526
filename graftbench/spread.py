#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's spread.

    python3 graftbench/spread.py --workload ingest --seeds 5

For each metric: the median of its values and the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound from BENCHMARK.json. Also prints each
run's wall time and the share of CPU time the host stole from this
machine during it (/proc/stat): on a shared host, runs with much steal
read slower.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        st0, tot0 = cpu_times()
        t0 = time.time()
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        st1, tot1 = cpu_times()
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {seed}: exit {p.returncode}")
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        for l in lines:
            if l.split(":")[0] in ("[graftbench] setup", "[graftbench] batch_passes",
                                   "[graftbench] stream_batches", "[graftbench] passes"):
                print("   ", l)
        print(f"seed {seed}: {wall:.1f}s wall, "
              f"steal {100 * (st1 - st0) / max(1, tot1 - tot0):.1f}%, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={m['value']:.6g}" for k, m in res["metrics"].items()), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    if a.seeds < 2:
        return
    print(f"{'metric':36s} {'median':>12s} {'iqr/median':>10s} {'bound':>6s}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        print(f"{k:36s} {med:12.6g} {spread:10.4f} {'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
