#!/bin/bash
# Interleaved A/B scaling runs (VM noise cancels via medians).
# Usage: tools/scaling_run.sh [nEvents] [nBatches] [repeats]
set -u
EVENTS=${1:-16000000}
BATCHES=${2:-2}
REPS=${3:-3}
# override the two pinned configs (cpus cpumask heap) via CFGS, e.g.
#   CFGS="2 0-1 8g|8 0-7 16g" tools/scaling_run.sh
CFGS=${CFGS:-"4 0-3 12g|16 0-15 24g"}
cd "$(dirname "$0")/.."
OUT=${SCALING_OUT:-$PWD/target/scaling_results.jsonl}
: > "$OUT"
# corpora and tables live in per-run scratch roots (graft.queries.Scratch:
# deleted at exit, swept after a kill); the 16M-event runs are GB-sized,
# so keep them on disk rather than on the tmpfs default
export GRAFT_SCRATCH_DIR=${GRAFT_SCRATCH_DIR:-$PWD/target/scaling-scratch}
for i in $(seq 1 "$REPS"); do
  echo "$CFGS" | tr '|' '\n' | while read -r CFG; do
    set -- $CFG
    CPUS=$1; MASK=$2; MEM=$3
    rm -rf /dev/shm/graft-spark-local
    SPARK_DRIVER_MEM=$MEM taskset -c "$MASK" \
      sbt -batch "runMain graft.tools.ScalingBench single $CPUS $EVENTS $BATCHES" 2>>target/scaling_stderr.log \
      | grep -o '{"bench".*}' >> "$OUT"
    echo "done rep=$i cpus=$CPUS" >&2
  done
done
SCALING_OUT="$OUT" python3 - <<'EOF'
import json, os
import statistics as st
rows = [json.loads(l) for l in open(os.environ['SCALING_OUT'])]
wall, cpu = {}, {}
for r in rows:
    wall.setdefault(r['cpus'], []).append(r['events_per_sec'])
    if 'events_per_cpu_sec' in r:
        cpu.setdefault(r['cpus'], []).append(r['events_per_cpu_sec'])
mw = {c: st.median(v) for c, v in wall.items()}
lo, hi = min(mw), max(mw)
out = {"bench":"cdc_scaling_median", "runs_per_config": len(wall[lo]),
  f"local_{lo}_events_per_sec": round(mw[lo]),
  f"local_{hi}_events_per_sec": round(mw[hi]),
  f"local_{lo}_best": max(wall[lo]), f"local_{hi}_best": max(wall[hi]),
  "wall_speedup_median": round(mw[hi]/mw[lo],2),
  "wall_efficiency_median": round((mw[hi]/mw[lo])/(hi/lo),3),
  "wall_efficiency_best": round((max(wall[hi])/min(wall[lo]))/(hi/lo),3),
  "all_wall": wall}
if cpu:
    mc = {c: st.median(v) for c, v in cpu.items()}
    out.update({
      f"local_{lo}_events_per_cpu_sec": round(mc[lo]),
      f"local_{hi}_events_per_cpu_sec": round(mc[hi]),
      # per-CPU-second throughput ratio: 1.0 = zero added parallel
      # overhead going N -> 4N (host steal excluded by construction)
      "cpu_work_efficiency": round(mc[hi]/mc[lo],3),
      "all_cpu": cpu})
print(json.dumps(out))
EOF
