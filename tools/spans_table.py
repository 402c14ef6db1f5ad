#!/usr/bin/env python3
"""One row per perfbench span: wall, jobs, stages, tasks, task CPU, shuffle
and spill MB, and the span's counters.

Usage: tools/spans_table.py <spans.jsonl> [name-substring]

<spans.jsonl> is what a traced run writes
(`python3 perfbench/run.py --workload <w> --seed 1 --seconds 10 --trace 1`
puts it under .bench_build/perfbench/runs/spans-*.jsonl). With a substring,
only spans whose name contains it are shown, followed by a total row. Child
spans are indented under their parent. Reads the file only.
"""
import json
import sys


def fmt(v):
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.4g}"
    return str(int(v)) if isinstance(v, (int, float)) else str(v)


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(next(l for l in __doc__.splitlines() if l.startswith("Usage")))
    spans = [json.loads(line) for line in open(argv[1]) if line.strip()]
    want = argv[2] if len(argv) == 3 else None
    depth = {}
    for s in spans:  # parents precede their children in the file
        depth[s["span"]] = depth.get(s["parent"], -1) + 1
    cols = ["span", "name", "wall_s", "jobs", "stages", "tasks", "task_cpu_s",
            "shuffle_mb", "spill_mb", "counters"]
    rows = []
    total = dict.fromkeys(["wall_s", "jobs", "stages", "tasks", "task_cpu_s",
                           "shuffle_mb", "spill_mb"], 0.0)
    for s in spans:
        if want is not None and want not in s["name"]:
            continue
        r = {
            "span": s["span"],
            "name": "  " * (0 if want else depth[s["span"]]) + s["name"],
            "wall_s": (s["end_ns"] - s["start_ns"]) / 1e9,
            "jobs": s["jobs"], "stages": s["stages"], "tasks": s["tasks"],
            "task_cpu_s": s["task_cpu_s"],
            "shuffle_mb": s["shuffle_write_b"] / 1e6,
            "spill_mb": s["spill_b"] / 1e6,
        }
        for k in total:
            total[k] += r[k]
        r = {k: f"{v:.3f}" if k in ("wall_s", "task_cpu_s", "shuffle_mb", "spill_mb")
             else str(v) for k, v in r.items()}
        r["counters"] = " ".join(f"{k}={fmt(v)}" for k, v in s["counters"].items())
        rows.append(r)
    if want is not None and rows:
        t = {k: f"{v:.3f}" if k in ("wall_s", "task_cpu_s", "shuffle_mb", "spill_mb")
             else fmt(v) for k, v in total.items()}
        rows.append({"span": "", "name": f"total ({len(rows)} spans)", **t, "counters": ""})
    width = {c: max([len(c)] + [len(r[c]) for r in rows]) for c in cols[:-1]}
    print("  ".join(c.ljust(width[c]) if c == "name" else c.rjust(width[c])
                    for c in cols[:-1]) + "  counters")
    for r in rows:
        print("  ".join(r[c].ljust(width[c]) if c == "name" else r[c].rjust(width[c])
                        for c in cols[:-1]) + "  " + r["counters"])


if __name__ == "__main__":
    main(sys.argv)
