#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports how steady it is.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--traced K]
        [--out FILE]

For each workload and end-to-end metric: the median over the untraced
runs and the quartile spread (third minus first quartile of
statistics.quantiles(values, n=4), as a share of the median), next to the
metric's bound from BENCHMARK.json. With --traced K, K traced runs per
workload (seeds from the start of the range) add the median of every
per-layer metric, each traced run's details line (write-path timings for
ingest_live) and the tracing overhead: the traced-minus-untraced
difference of each end-to-end median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [json.loads(l) for l in proc.stdout.splitlines()
             if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: rc={proc.returncode}")
    return lines[0]["details"], lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in workloads:
        e2e, ok = {}, True
        for seed in seeds_of(args.seeds):
            _, res = run(w, seed, spec["run_seconds"], 0)
            ok = ok and res["correct"]
            for k, v in res["metrics"].items():
                e2e.setdefault(k, []).append(v["value"])
            print(w, seed, res["correct"],
                  {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  flush=True)
        entry = {"correct": ok, "end_to_end": {
            k: {"values": vs, "median": statistics.median(vs),
                "spread": metrics.quartile_spread(vs) if len(vs) > 1 else 0.0,
                "bound": bounds[k]} for k, vs in e2e.items()}}
        for k, v in entry["end_to_end"].items():
            print(f"  {w} {k}: median {v['median']:.4f} spread "
                  f"{v['spread']:.4f} (bound {v['bound']})", flush=True)
        if args.traced:
            per, traced_e2e, entry["traced_details"] = {}, {}, []
            for seed in seeds_of(args.seeds)[:args.traced]:
                details, res = run(w, seed, spec["run_seconds"], 1)
                entry["traced_details"].append(details)
                ok = ok and res["correct"]
                for k, v in res["metrics"].items():
                    per.setdefault(k, []).append(v["value"])
                for k, v in details["end_to_end"].items():
                    traced_e2e.setdefault(k, []).append(v)
            entry["per_layer"] = {k: statistics.median(vs)
                                  for k, vs in per.items()}
            entry["tracing_overhead"] = {
                k: {"traced": statistics.median(vs),
                    "untraced": entry["end_to_end"][k]["median"],
                    "difference": statistics.median(vs)
                    - entry["end_to_end"][k]["median"]}
                for k, vs in traced_e2e.items()}
            entry["traced_runs"] = args.traced
            entry["correct"] = ok
        report[w] = entry
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
