#!/usr/bin/env bash
# One-command verification sweep: the Tier-1 test command, the oracle gate in
# both session modes at sf0.01, and both perfbench workloads.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest (Tier-1) =="
(
  export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
)

echo "== oracle gate (engine session, sf0.01) =="
python tools/oracle_check.py /root/testdata/sf0.01 2>&1 | tail -1

echo "== oracle gate (driver-style plain session, sf0.01) =="
python tools/oracle_check.py --plain /root/testdata/sf0.01 2>&1 | tail -1

echo "== oracle gate (plain session, non-UTC timezone, sf0.01) =="
python tools/oracle_check.py --plain --tz Asia/Tokyo /root/testdata/sf0.01 2>&1 | tail -1

echo "== oracle gate (adversarial edge dataset, full registry) =="
python tools/make_edge_sf.py > /dev/null
python tools/oracle_check.py /tmp/edge_sf 2>&1 | tail -1

# perfbench exits 0 even when a lap's outputs are wrong; its last line is
# the {"correct", "attempted", "failed", "metrics"} record, so gate on that.
perfbench_gate() {
  local last
  last="$(python3 perfbench/run.py --workload "$1" --seed 1 --seconds 10 --trace 0 | tail -1)"
  echo "$last"
  python3 -c '
import json, sys
r = json.loads(sys.argv[1])
sys.exit(0 if r.get("correct") is True and r.get("failed") == 0 else 1)
' "$last" || { echo "perfbench $1: wrong outputs (correct/failed above)" >&2; return 1; }
}

echo "== perfbench batch_etl =="
perfbench_gate batch_etl

echo "== perfbench query_mix =="
perfbench_gate query_mix
