#!/usr/bin/env python3
"""One row per perfbench span: wall, jobs, stages, tasks, task CPU, shuffle
and spill MB, and the span's counters; or, given two span files, each span's
before and after side by side with the delta.

Usage: tools/spans_table.py <spans.jsonl> [name-substring]
       tools/spans_table.py <before.jsonl> <after.jsonl> [name-substring]

<spans.jsonl> is what a traced run writes
(`python3 perfbench/run.py --workload <w> --seed 1 --seconds 10 --trace 1`
puts it under .bench_build/perfbench/runs/spans-*.jsonl). With a substring,
only spans whose name contains it are shown, followed by a total row. Child
spans are indented under their parent. In the two-file form, spans pair up
by name and by order of appearance (the k-th span of a name before with the
k-th after); a span present on one side only shows "-" on the other. Reads
the files only.
"""
import json
import os
import sys

METRICS = ["wall_s", "jobs", "stages", "tasks", "task_cpu_s", "shuffle_mb", "spill_mb"]
FLOAT = ("wall_s", "task_cpu_s", "shuffle_mb", "spill_mb")


def fmt(v):
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.4g}"
    return str(int(v)) if isinstance(v, (int, float)) else str(v)


def load(path):
    spans = [json.loads(line) for line in open(path) if line.strip()]
    depth = {}
    for s in spans:  # parents precede their children in the file
        depth[s["span"]] = depth.get(s["parent"], -1) + 1
        s["depth"] = depth[s["span"]]
        s["wall_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
        s["shuffle_mb"] = s["shuffle_write_b"] / 1e6
        s["spill_mb"] = s["spill_b"] / 1e6
    return spans


def show(v, k):
    return f"{v:.3f}" if k in FLOAT else fmt(v)


def print_table(cols, rows):
    width = {c: max([len(c)] + [len(r[c]) for r in rows]) for c in cols[:-1]}
    print("  ".join(c.ljust(width[c]) if c == "name" else c.rjust(width[c])
                    for c in cols[:-1]) + "  " + cols[-1])
    for r in rows:
        print("  ".join(r[c].ljust(width[c]) if c == "name" else r[c].rjust(width[c])
                        for c in cols[:-1]) + "  " + r[cols[-1]])


def one(path, want):
    cols = ["span", "name"] + METRICS + ["counters"]
    rows = []
    total = dict.fromkeys(METRICS, 0.0)
    for s in load(path):
        if want is not None and want not in s["name"]:
            continue
        for k in total:
            total[k] += s[k]
        r = {k: show(s[k], k) for k in METRICS}
        r["span"] = str(s["span"])
        r["name"] = "  " * (0 if want else s["depth"]) + s["name"]
        r["counters"] = " ".join(f"{k}={fmt(v)}" for k, v in s["counters"].items())
        rows.append(r)
    if want is not None and rows:
        t = {k: show(v, k) for k, v in total.items()}
        rows.append({"span": "", "name": f"total ({len(rows)} spans)", **t, "counters": ""})
    print_table(cols, rows)


def keyed(spans):
    """(name, k-th occurrence) -> span, in file order."""
    seen, out = {}, {}
    for s in spans:
        k = seen.get(s["name"], 0)
        seen[s["name"]] = k + 1
        out[(s["name"], k)] = s
    return out


def two(before_path, after_path, want):
    before, after = keyed(load(before_path)), keyed(load(after_path))
    order = list(before) + [k for k in after if k not in before]
    shown = ["wall_s", "jobs", "task_cpu_s", "shuffle_mb"]
    cols = ["name"] + [f"{m}{side}" for m in shown for side in (":before", ":after", ":delta")]
    cols.append("counters (before→after)")
    rows = []
    total = {side: dict.fromkeys(shown, 0.0) for side in ("b", "a")}
    for key in order:
        if want is not None and want not in key[0]:
            continue
        b, a = before.get(key), after.get(key)
        ref = b or a
        r = {"name": "  " * (0 if want else ref["depth"]) + key[0]
             + (f" #{key[1] + 1}" if key[1] else "")}
        for m in shown:
            r[f"{m}:before"] = show(b[m], m) if b else "-"
            r[f"{m}:after"] = show(a[m], m) if a else "-"
            r[f"{m}:delta"] = show(a[m] - b[m], m) if a and b else "-"
            if b:
                total["b"][m] += b[m]
            if a:
                total["a"][m] += a[m]
        cb, ca = (b or {}).get("counters", {}), (a or {}).get("counters", {})
        parts = []
        for k in list(cb) + [k for k in ca if k not in cb]:
            vb, va = cb.get(k), ca.get(k)
            if vb == va:
                parts.append(f"{k}={fmt(vb)}")
            else:
                parts.append(f"{k}={'-' if vb is None else fmt(vb)}→{'-' if va is None else fmt(va)}")
        r[cols[-1]] = " ".join(parts)
        rows.append(r)
    if want is not None and rows:
        t = {"name": f"total ({len(rows)} spans)", cols[-1]: ""}
        for m in shown:
            t[f"{m}:before"] = show(total["b"][m], m)
            t[f"{m}:after"] = show(total["a"][m], m)
            t[f"{m}:delta"] = show(total["a"][m] - total["b"][m], m)
        rows.append(t)
    print_table(cols, rows)


def main(argv):
    usage = "\n".join(l for l in __doc__.splitlines() if l.strip().startswith(("Usage", "tools/")))
    if len(argv) == 4:
        two(argv[1], argv[2], argv[3])
    elif len(argv) == 3 and os.path.isfile(argv[2]):
        two(argv[1], argv[2], None)
    elif len(argv) in (2, 3):
        one(argv[1], argv[2] if len(argv) == 3 else None)
    else:
        sys.exit(usage)


if __name__ == "__main__":
    main(sys.argv)
