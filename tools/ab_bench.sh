#!/bin/bash
# Alternating A/B bench: the only trustworthy regression signal on this host
# (weather swings exceed 3x; see CLAUDE.md r6 notes). Builds a worktree of
# the given sha, then alternates spark-submit Bench runs of A=<sha> and
# B=HEAD, swapping which side runs first in every other pair (a fixed order
# biases a drifting host), and prints per-run totals and the min/median per
# side.
#
# Usage: tools/ab_bench.sh <baseline-sha> [pairs=3] [sfDir] [cpus]
set -u
SHA="${1:?usage: ab_bench.sh <baseline-sha> [pairs] [sfDir] [cpus]}"
PAIRS="${2:-3}"
SFDIR="${3:-/root/testdata/sf0.1}"
CPUS="${4:-$(nproc)}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
WT="/tmp/ab_wt_$SHA"
export SPARK_SCALA_VERSION=2.13 SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$CPUS"

if [ ! -d "$WT" ]; then
  git -C "$REPO" worktree add "$WT" "$SHA" >/dev/null || exit 1
fi
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
