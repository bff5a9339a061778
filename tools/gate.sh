#!/bin/bash
# Correctness gate in one command: run graft.Verify (every gate query →
# parquet + oracle_sql.json), then compare each result with its DuckDB
# oracle (tools/check_correctness.py). Both steps always run; the script
# exits non-zero if either failed.
#
# usage: tools/gate.sh <sfDir> <outDir>
#   e.g. tools/gate.sh /path/to/testdata/sf0.01 /tmp/verify_out
# SPARK_GRAFT_CPUS sets the local[N] parallelism of the Verify run (default:
# the processors the JVM sees).
set -uo pipefail
cd "$(dirname "$0")/.."

if [ $# -ne 2 ]; then
  echo "usage: $0 <sfDir> <outDir>" >&2
  exit 2
fi
SF=$1; OUT=$2

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $SF $OUT"
verify=$?
python3 tools/check_correctness.py "$SF" "$OUT"
check=$?

echo "[gate] verify exit $verify, check_correctness exit $check" >&2
[ "$verify" -eq 0 ] && [ "$check" -eq 0 ]
