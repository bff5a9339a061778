#!/bin/bash
# Host-drift vs code A/B: run the headline PIT+FE job with TWO jars
# interleaved on the same fixture in fresh spark-submit JVMs, so host
# variance cancels pair-wise. Used to produce the "Host drift vs code"
# table in BENCH/BASELINE.md (the judged round-2 jar vs HEAD).
#
# usage: tools/ab_bench.sh <jarA> <jarB> [pairs=3] [cores]
# cores defaults to $SPARK_GRAFT_CPUS, else nproc; the driver heap is
# $SPARK_DRIVER_MEM (default 8g, as in build.sbt); spark-submit comes from
# $SPARK_HOME.
# Build an old-rev jar with:
#   git worktree add /tmp/abwt <sha> && (cd /tmp/abwt && sbt -batch package)
set -euo pipefail
cd "$(dirname "$0")/.."

JARA=$1; JARB=$2; PAIRS=${3:-3}; CORES=${4:-${SPARK_GRAFT_CPUS:-$(nproc)}}
MEM=${SPARK_DRIVER_MEM:-8g}
: "${SPARK_HOME:?SPARK_HOME must name the Spark installation}"
DATA=${AB_DATA_DIR:-/tmp/graft_bench_seq}
OUT=${AB_OUT_DIR:-/tmp/graft_ab}
mkdir -p "$OUT"

if [ ! -d "$DATA/sequences" ]; then
  echo "fixture $DATA missing — run graft.Bench once (it generates it)" >&2
  exit 1
fi

run() { # jar, tag, pair
  "$SPARK_HOME/bin/spark-submit" --master "local[$CORES]" --driver-memory "$MEM" \
    --conf spark.sql.session.timeZone=UTC --conf spark.ui.enabled=false \
    --driver-java-options "-XX:ParallelGCThreads=$CORES -XX:ConcGCThreads=2" \
    --class graft.ScalingBench "$1" run "$DATA" "$CORES" "$OUT/$2_$3.json" \
    2>"$OUT/stderr_$2_$3.log" >/dev/null ||
    { echo "spark-submit failed ($2 pair $3):"; tail -5 "$OUT/stderr_$2_$3.log"; exit 1; }
}

for p in $(seq 1 "$PAIRS"); do
  echo "pair $p: jarA..." >&2; run "$JARA" a "$p"
  echo "pair $p: jarB..." >&2; run "$JARB" b "$p"
done

python3 - "$OUT" "$PAIRS" <<'EOF'
import json, sys, statistics
out, pairs = sys.argv[1], int(sys.argv[2])
rows, ratios = [], []
for p in range(1, pairs + 1):
    a = json.load(open(f"{out}/a_{p}.json")); b = json.load(open(f"{out}/b_{p}.json"))
    assert a["checksum"] == b["checksum"], f"checksum mismatch in pair {p}"
    ra, rb = a["sequences_per_sec"], b["sequences_per_sec"]
    rows.append((p, ra, rb, rb / ra)); ratios.append(rb / ra)
print("| pair | jarA seq/s | jarB seq/s | B / A |")
print("|---|---|---|---|")
for p, ra, rb, r in rows:
    print(f"| {p} | {ra:,.0f} | {rb:,.0f} | {r:.2f} |")
print(f"\nmedian B/A = {statistics.median(ratios):.2f}; checksums identical across all runs")
EOF
