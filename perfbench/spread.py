#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the benchmark is judged.

    python3 perfbench/spread.py --runs 10 [--workload web_pages ...] [--first-seed 1]

Runs the benchmark --runs times per workload, each with another seed, and
prints per metric the median, the quartile spread (Q3 - Q1, from
statistics.quantiles(values, n=4)) as a share of the median, and that share
against the metric's bound in BENCHMARK.json. Results are appended as JSON
lines to <build>/perfbench/spread.jsonl. Run from the root of a checkout.
"""

import argparse
import json
import os
import statistics
import subprocess

with open("BENCHMARK.json") as f:
    BENCH = json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in BENCH["workloads"]]
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    log = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for w in workloads:
        values = {}
        for i in range(a.runs):
            seed = a.first_seed + i
            out = subprocess.run(
                BENCH["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                    str(BENCH["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, text=True)
            lines = out.stdout.splitlines()
            if out.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {out.returncode}")
                continue
            r = json.loads(lines[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "result": r}) + "\n")
            if not r["correct"]:
                print(f"{w} seed {seed}: incorrect ({r['failed']} of {r['attempted']} failed)")
            for m, v in r["metrics"].items():
                values.setdefault(m, []).append(v["value"])
        for m, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
            spread = (q[2] - q[0]) / med if med else float("inf")
            bound = bounds.get(m)
            flag = "" if bound is None or spread <= bound / 3 else ("  > bound/3" if spread <= bound else "  > BOUND")
            print(f"{w:18s} {m:28s} n={len(vs):2d} median={med:12.5g} spread={spread:7.4f}"
                  f" bound={bound}{flag}")


if __name__ == "__main__":
    main()
