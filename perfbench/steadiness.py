#!/usr/bin/env python3
"""Steadiness record for the CDC benchmark.

    python3 perfbench/steadiness.py [--out perfbench/STEADINESS.json]

Run from the repository root. For each of two sets and each workload in
BENCHMARK.json it runs perfbench/run.py once per seed (set k, counting
from 0, uses seeds 10k+1 .. 10k+10) and records each end-to-end metric
with the host-load probe of its run.
Per set it reports, for every metric, the median, the quartiles
(statistics.quantiles(values, n=4)) and the quartile spread as a share of
the median, next to the metric's bound from BENCHMARK.json. The host probe
is recorded for attribution only; no metric is scaled by it.

It also runs one traced run per workload, seed 1, and reports the tracing
overhead: the traced run's end-to-end numbers (its '# end-to-end' lines)
minus the untraced run of the same seed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SETS = 2
SEEDS = 10


def run(workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    host = next((json.loads(l[len("# host "):]) for l in lines if l.startswith("# host ")), {})
    e2e = {}
    for l in lines:
        if l.startswith("# end-to-end "):
            name, value = l.split()[2:4]
            e2e[name] = float(value)
    host["wall_s"] = round(time.time() - t, 1)
    return result, host, e2e


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="perfbench/STEADINESS.json")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "seeds_per_set": SEEDS, "sets": []}
    for s in range(SETS):
        one = {}
        for w in workloads:
            runs = []
            for seed in range(s * SEEDS + 1, s * SEEDS + SEEDS + 1):
                result, host, _ = run(w, seed, bench["run_seconds"], 0)
                runs.append({"seed": seed, "host": host, "correct": result["correct"],
                             "attempted": result["attempted"], "failed": result["failed"],
                             "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
                print(f"set {s + 1} {w} seed {seed} ({host['wall_s']} s): " + " ".join(
                    f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()), flush=True)
            stats = {m: summary([r["metrics"][m] for r in runs]) for m in bounds}
            for m, st in stats.items():
                st["bound"] = bounds[m]
                print(f"  {w:10s} {m:18s} median {st['median']:10.4g} "
                      f"q1 {st['q1']:10.4g} q3 {st['q3']:10.4g} spread {st['spread']:.3f} "
                      f"(bound {bounds[m]})", flush=True)
            one[w] = {"runs": runs, "stats": stats}
        record["sets"].append(one)
    record["median_shift"] = {
        w: {m: record["sets"][1][w]["stats"][m]["median"] /
            record["sets"][0][w]["stats"][m]["median"] - 1 for m in bounds}
        for w in workloads}
    overhead = {}
    for w in workloads:
        _, _, traced = run(w, 1, bench["run_seconds"], 1)
        plain = record["sets"][0][w]["runs"][0]["metrics"]
        overhead[w] = {m: traced[m] - plain[m] for m in bounds if m in traced}
        print(f"  tracing overhead {w}: {overhead[w]}", flush=True)
    record["tracing_overhead"] = overhead
    os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(record, fh, indent=1)


if __name__ == "__main__":
    main()
