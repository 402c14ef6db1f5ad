#!/usr/bin/env python3
"""The benchmark's own checks. Run from the root of a checkout:

    python3 perfbench/test_perfbench.py            # every workload, about 10 minutes
    python3 perfbench/test_perfbench.py -k every_metric  # one test

- BENCHMARK.json keeps its keys and limits, and the traced run emits
  exactly its per-layer metrics.
- Every workload's run is correct and reports every end-to-end metric, in
  its declared unit and never 0, from timed calls of its own operations.
- Two traced runs of one seed report identical deterministic counters, and
  the repeated calls of a traced run stay in one execution regime (equal
  per-call job counts).
"""

import json
import os
import re
import subprocess
import sys
import unittest

ROOT = os.getcwd()
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload, seed, trace, seconds=1):
    """One benchmark run: (result, record) parsed from its standard output."""
    out = subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True).stdout.splitlines()
    record = next(json.loads(l.split(" ", 1)[1]) for l in out if l.startswith("PERFBENCH_RECORD "))
    return json.loads(out[-1]), record


class Manifest(unittest.TestCase):
    def test_benchmark_json(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        names = ([w["name"] for w in BENCH["workloads"]]
                 + [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]])
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(name.match(n) for n in names))
        self.assertTrue(2 <= len(BENCH["workloads"]) <= 8)
        self.assertTrue(1 <= len(BENCH["per_layer"]) <= 128)
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"]))
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in BENCH["end_to_end"]))


class Runs(unittest.TestCase):
    def test_every_metric_on_every_workload(self):
        declared = {m["name"]: m for m in BENCH["end_to_end"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                result, record = run(w, seed=3, trace=0)
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                metrics = result["metrics"]
                self.assertEqual(set(metrics), set(declared))
                self.assertTrue(record["samples"] and all(record["samples"].values()))
                self.assertGreater(record["work_mb"], 0)
                for m, v in metrics.items():
                    self.assertEqual(v["unit"], declared[m]["unit"])
                    self.assertNotEqual(v["value"], 0, m)

    def test_traced_counters_repeat(self):
        declared = {m["name"] for m in BENCH["per_layer"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                (a, rec), (b, _) = run(w, seed=5, trace=1), run(w, seed=5, trace=1)
                self.assertTrue(a["correct"] and b["correct"])
                self.assertEqual(set(a["metrics"]), declared)
                det = rec["deterministic"]
                self.assertTrue(det)
                diff = {m: (a["metrics"][m]["value"], b["metrics"][m]["value"]) for m in det
                        if a["metrics"][m]["value"] != b["metrics"][m]["value"]}
                self.assertEqual(diff, {})
                for p in ("IncrementalDedup.processSnapshot.plain_call", "ChunkDedup.restartFromStore.call"):
                    lo, hi = (a["metrics"][f"{p}.jobs_{x}"]["value"] for x in ("min", "max"))
                    self.assertEqual(lo, hi, f"{p}: per-call jobs {lo}..{hi}")


if __name__ == "__main__":
    sys.exit(unittest.main())
