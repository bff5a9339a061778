#!/bin/bash
# North-rule scaling evidence: same job, same input, local[2] vs local[8]
# (N vs 4N cores, both below the VM's memory-bandwidth knee), plus local[32]
# as an extra beyond-the-knee data point; each level a fresh spark-submit
# JVM. Prints the local[8]/local[2] efficiency and whether every level's
# checksum agrees (exit 1 if not). spark-submit comes from $SPARK_HOME; the
# driver heap is $SPARK_DRIVER_MEM (default 16g).
set -euo pipefail
cd "$(dirname "$0")/.."

JAR=target/scala-2.13/feastspark_2.13-0.1.0.jar
DATA=${SCALING_DATA_DIR:-/tmp/graft_scaling}
N=${SCALING_ROWS:-80000000}
ENTITIES=${SCALING_ENTITIES:-50000}
PROBES=${SCALING_PROBES:-2000000}
MEM=${SPARK_DRIVER_MEM:-16g}
: "${SPARK_HOME:?SPARK_HOME must name the Spark installation}"

mkdir -p "$DATA"

submit() { # cores, then args...
  local cores=$1; shift
  # 16g heap, not "all the RAM": G1 on a huge heap with 32 mutator threads
  # collapses throughput (measured 33s -> 75-205s on the same job); size the
  # single-JVM heap like a real per-executor heap.
  # GC threads pinned to the task-slot count: G1 defaults ParallelGCThreads
  # to ~23 on this 32-vCPU box, so an unpinned "local[2]" JVM gets ~23
  # threads of free GC help (measured 700%+ CPU) — inflating the N-core
  # baseline and corrupting the N->4N comparison. A real 2-core executor
  # does GC on its own 2 cores.
  "$SPARK_HOME/bin/spark-submit" \
    --master "local[$cores]" \
    --driver-memory "$MEM" \
    --conf spark.sql.session.timeZone=UTC \
    --conf spark.ui.enabled=false \
    --driver-java-options "-XX:ParallelGCThreads=$cores -XX:ConcGCThreads=1" \
    --class graft.ScalingBench "$JAR" "$@" 2>"$DATA/spark_stderr.log" ||
    { echo "spark-submit failed; tail of stderr:"; tail -30 "$DATA/spark_stderr.log"; exit 1; }
}

if [ ! -d "$DATA/sequences" ]; then
  submit 32 gen "$DATA" "$N" "$ENTITIES" "$PROBES"
fi
# N=2 vs 4N=8 (both below the VM's memory-bandwidth knee — see the report's
# hardware-probe section); local[32] recorded as an extra data point.
submit 2  run "$DATA" 2  "$DATA/run2.json"
submit 8  run "$DATA" 8  "$DATA/run8.json"
submit 32 run "$DATA" 32 "$DATA/run32.json"
# one run per level: BENCH/BASELINE.md carries the hand-merged PAIRED-median
# table across sessions — merge a new pair into it rather than overwriting
python3 - "$DATA/run2.json" "$DATA/run8.json" "$DATA/run32.json" <<'PY'
import json, sys
runs = [json.load(open(p)) for p in sys.argv[1:]]
for r in runs:
    print(f"local[{r['cores']}]: {r['elapsed_sec']:.1f} s, {r['sequences_per_sec']:.0f} sequences/s")
lo, hi = runs[0], runs[1]
eff = (hi["sequences_per_sec"] / lo["sequences_per_sec"]) / (hi["cores"] / lo["cores"])
print(f"scaling efficiency local[{hi['cores']}] / local[{lo['cores']}]: {eff:.3f} (north-rule target >= 0.8)")
agree = all((r["checksum"], r["probe_rows"]) == (lo["checksum"], lo["probe_rows"]) for r in runs)
print(f"checksums agree across levels: {agree}")
sys.exit(0 if agree else 1)
PY
