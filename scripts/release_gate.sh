#!/usr/bin/env bash
# Full round gate, in driver order: tests → t1 smoke → t2 verify+oracle
# (all SFs) → determinism sweep → bench. Exits nonzero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== sbt test =="
sbt -batch test 2>&1 | grep -E "Tests:|\*\*\*" | tail -2

echo "== t1 smoke =="
sbt -batch "runMain graft.tools.EntrySmoke" 2>&1 | grep smoke

for sf in sf0.001 sf0.01 sf0.1; do
  echo "== verify + oracle @ $sf =="
  out="/tmp/gate_$sf"
  sbt -batch "runMain graft.Verify /root/testdata/$sf $out" >/dev/null 2>&1
  python3 scripts/check.py "/root/testdata/$sf" "$out" | tail -1
done

echo "== determinism sweep @ sf0.01 (default vs 8 cores) =="
SPARK_GRAFT_CPUS=8 sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_sf0.01_c8" >/dev/null 2>&1
python3 scripts/determinism.py /tmp/gate_sf0.01 /tmp/gate_sf0.01_c8 \
  "DETERMINISM_r${ROUND:-0}.json"

echo "== oracle output-type audit =="
python3 scripts/oracle_types.py /root/testdata/sf0.001 /tmp/gate_sf0.001 | tail -1

echo "== test-report artifact =="
python3 scripts/test_report.py "${ROUND:-0}"

echo "== streaming gate (RocksDB, file sink) =="
sbt -batch "runMain graft.tools.StreamGate ${ROUND:-0}" 2>&1 | tail -1

echo "== multi-JVM cluster smoke (local-cluster[2,4,2048]) =="
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  sbt -batch "runMain graft.tools.ClusterSmoke" 2>&1 \
  | grep -F '"metric"' | cut -c1-200
if [ -f cluster_smoke.json ]; then
  cp cluster_smoke.json "CLUSTER_r${ROUND:-0}.json"
fi

echo "== bench @ sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>&1 \
  | grep -F '"metric"' | sed 's/^\[info\] //'

echo "== bench adjudication vs committed bench.json =="
sbt -batch "runMain graft.tools.Adjudicate" 2>&1 | tail -1

# Round-stamped copy of the regression adjudication (re-probes of every
# mover vs the committed bench.json).
if [ -f bench_adjudication.json ]; then
  cp bench_adjudication.json "BENCH_ADJUDICATION_r${ROUND:-0}.json"
  echo "== bench adjudication =="
  cat bench_adjudication.json
fi
