#!/usr/bin/env python3
"""Compare two traced runs layer by layer.

    python3 graftbench/trace_diff.py BEFORE.json AFTER.json

A traced run (`run.py --trace 1`) writes its span tree to
.bench_build/traces/<workload>-seed<n>-<ms>.json. This prints, for each
span kind (the span path with pass, batch and row-instance numbers
folded: `ingest_batch/traced-2/write` -> `ingest_batch/traced/write`),
the self time, Spark job count and task CPU of both runs and their
difference, then the per-layer metrics of both runs. A saving shows in
the layer that owns it.
"""
import json
import re
import sys


def fold(path):
    return "/".join(re.sub(r"-\d+$", "", part) for part in path.split("/"))


def layers(trace):
    out = {}
    for s in trace["spans"]:
        k = fold(s["path"])
        a = out.setdefault(k, {"n": 0, "self_s": 0.0, "jobs": 0, "task_cpu_s": 0.0})
        a["n"] += 1
        a["self_s"] += s["self_s"]
        a["jobs"] += s.get("jobs", 0)
        a["task_cpu_s"] += s.get("task_cpu_s", 0.0)
    # per occurrence, so runs with a different number of passes compare
    for a in out.values():
        for f in ("self_s", "jobs", "task_cpu_s"):
            a[f] /= a["n"]
    return out


def fmt(v):
    return f"{v:10.4g}" if isinstance(v, (int, float)) else f"{'-':>10s}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as fa, open(sys.argv[2]) as fb:
        a, b = json.load(fa), json.load(fb)
    la, lb = layers(a), layers(b)
    print(f"{'span (per occurrence)':52s} {'self_s A':>10s} {'self_s B':>10s} {'delta':>10s}"
          f" {'jobs A':>10s} {'jobs B':>10s} {'cpu_s A':>10s} {'cpu_s B':>10s}")
    for k in sorted(set(la) | set(lb)):
        x, y = la.get(k, {}), lb.get(k, {})
        d = y.get("self_s", 0.0) - x.get("self_s", 0.0)
        print(f"{k:52s} {fmt(x.get('self_s'))} {fmt(y.get('self_s'))} {d:+10.4g}"
              f" {fmt(x.get('jobs'))} {fmt(y.get('jobs'))}"
              f" {fmt(x.get('task_cpu_s'))} {fmt(y.get('task_cpu_s'))}")
    ma, mb = a.get("metrics", {}), b.get("metrics", {})
    print(f"\n{'per-layer metric':52s} {'A':>12s} {'B':>12s} {'delta':>12s} {'delta %':>8s}")
    for k in sorted(set(ma) | set(mb)):
        x, y = ma.get(k), mb.get(k)
        if x is None or y is None:
            print(f"{k:52s} {fmt(x)} {fmt(y)}")
            continue
        pct = f"{(y - x) / x * 100:+8.1f}" if x else f"{'':>8s}"
        print(f"{k:52s} {x:12.5g} {y:12.5g} {y - x:+12.5g} {pct}")


if __name__ == "__main__":
    main()
