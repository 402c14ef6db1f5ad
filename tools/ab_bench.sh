#!/bin/bash
# Alternating A/B bench: the only trustworthy regression signal on this host
# (weather swings exceed 3x; see CLAUDE.md r6 notes). Extracts a copy of the
# given sha (git archive, so the repo gains no worktree entry), then
# alternates runs of A=<sha> and B=this checkout, swapping which side runs
# first in every other pair (a fixed order biases a drifting host).
#
# Bench mode: spark-submit graft.Bench from each side's `sbt package` jar;
# prints per-run totals and the min/median per side.
# Perfbench mode: `python3 perfbench/run.py --workload <w> --seed <i>
# --seconds 10 --trace 0` in each side's own tree (pair i runs seed i on both
# sides); prints every end-to-end metric of BENCHMARK.json per run, then per
# side its median and quartiles and the number of pairs B won.
#
# Usage: tools/ab_bench.sh <baseline-sha> [pairs=3] [sfDir] [cpus]
#        tools/ab_bench.sh <baseline-sha> perfbench <workload> [pairs=10]
# The baseline copy goes to ${TMPDIR:-/tmp}/ab_wt_<sha>.
set -u
SHA="${1:?usage: ab_bench.sh <baseline-sha> [pairs] [sfDir] [cpus] | <baseline-sha> perfbench <workload> [pairs]}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
WT="${TMPDIR:-/tmp}/ab_wt_$SHA"

if [ ! -d "$WT" ]; then
  mkdir -p "$WT.tmp" && git -C "$REPO" archive "$SHA" | tar -x -C "$WT.tmp" \
    && mv "$WT.tmp" "$WT" || { rm -rf "$WT.tmp"; echo "cannot extract $SHA"; exit 1; }
fi

if [ "${2:-}" = perfbench ]; then
  W="${3:?usage: ab_bench.sh <baseline-sha> perfbench <workload> [pairs]}"
  PAIRS="${4:-10}"
  OUT="$WT.runs/$W"
  rm -rf "$OUT"; mkdir -p "$OUT"
  prun() { # $1=tree $2=seed $3=result file: the run's last stdout line
    ( cd "$1" && python3 perfbench/run.py --workload "$W" --seed "$2" \
        --seconds 10 --trace 0 2>/dev/null | tail -n 1 ) > "$3"
  }
  show() { # $1=label $2=result file
    python3 - "$1" "$2" "$REPO/BENCHMARK.json" <<'PY'
import sys, json
label, path, bench = sys.argv[1:]
names = [m["name"] for m in json.load(open(bench))["end_to_end"]]
try:
    r = json.load(open(path))
    vals = "  ".join(f"{n}={r['metrics'][n]['value']:.4g}" for n in names)
    print(f"{label}  correct={r['correct']} failed={r['failed']}/{r['attempted']}  {vals}")
except Exception:
    print(f"{label}  FAIL")
PY
  }
  for i in $(seq 1 "$PAIRS"); do
    if [ $((i % 2)) -eq 1 ]; then
      prun "$WT" "$i" "$OUT/A_$i.json"; prun "$REPO" "$i" "$OUT/B_$i.json"
    else
      prun "$REPO" "$i" "$OUT/B_$i.json"; prun "$WT" "$i" "$OUT/A_$i.json"
    fi
    show "pair $i A($SHA)" "$OUT/A_$i.json"
    show "pair $i B(HEAD)" "$OUT/B_$i.json"
  done
  python3 - "$OUT" "$PAIRS" "$REPO/BENCHMARK.json" <<'PY'
import sys, json, statistics
out, pairs, bench = sys.argv[1], int(sys.argv[2]), sys.argv[3]
def load(side, i):
    try:
        return json.load(open(f"{out}/{side}_{i}.json"))["metrics"]
    except Exception:
        return None
runs = [(load("A", i), load("B", i)) for i in range(1, pairs + 1)]
def stats(xs):
    if not xs:
        return "no runs"
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0], xs[0], xs[0]]
    return f"med {statistics.median(xs):.4g} [{q[0]:.4g}-{q[2]:.4g}]"
for m in json.load(open(bench))["end_to_end"]:
    n, higher = m["name"], m["better"] == "higher"
    a = [r[0][n]["value"] for r in runs if r[0]]
    b = [r[1][n]["value"] for r in runs if r[1]]
    both = [(x[n]["value"], y[n]["value"]) for x, y in runs if x and y]
    wins = sum(1 for x, y in both if (y > x if higher else y < x))
    print(f"{n} ({m['unit']}, {m['better']} is better): A {stats(a)}  B {stats(b)}"
          f"  B better in {wins}/{len(both)} pairs")
PY
  exit 0
fi

PAIRS="${2:-3}"
SFDIR="${3:-/root/testdata/sf0.1}"
CPUS="${4:-$(nproc)}"
export SPARK_SCALA_VERSION=2.13 SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$CPUS"
( cd "$WT" && sbt -batch package >/dev/null 2>&1 ) || { echo "A build failed"; exit 1; }
( cd "$REPO" && sbt -batch package >/dev/null 2>&1 ) || { echo "B build failed"; exit 1; }
JAR_A=$(ls "$WT"/target/scala-2.13/*.jar)
JAR_B=$(ls "$REPO"/target/scala-2.13/*.jar)

run() { # $1=jar  -> prints total seconds (or FAIL)
  /opt/spark/bin/spark-submit --master "local[$CPUS]" --driver-memory 8g \
    --class graft.Bench "$1" 2>/dev/null \
    | grep '^{"metric"' | python3 -c 'import sys,json
try: print(round(json.loads(sys.stdin.readline())["value"],2))
except Exception: print("FAIL")'
}

A=(); B=()
run_a() { a=$(run "$JAR_A"); echo "pair $i  A($SHA) total=$a  load=$(cut -d' ' -f1 </proc/loadavg)"; }
run_b() { b=$(run "$JAR_B"); echo "pair $i  B(HEAD) total=$b  load=$(cut -d' ' -f1 </proc/loadavg)"; }
for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) -eq 1 ]; then run_a; run_b; else run_b; run_a; fi
  A+=("$a"); B+=("$b")
done
python3 - "${A[*]}" "${B[*]}" <<'PY'
import sys, statistics
a = [float(x) for x in sys.argv[1].split() if x != "FAIL"]
b = [float(x) for x in sys.argv[2].split() if x != "FAIL"]
if a and b:
    print(f"A: min={min(a):.1f} med={statistics.median(a):.1f}  runs={a}")
    print(f"B: min={min(b):.1f} med={statistics.median(b):.1f}  runs={b}")
    print(f"B/A min ratio: {min(b)/min(a):.3f}")
PY
