#!/usr/bin/env bash
# Pre-submission gate: everything the driver will check, in order of
# increasing cost.  Run from the repo root before ending a round.
#
#   bash tools/preflight.sh          # full gate (~15 min)
#   bash tools/preflight.sh --fast   # skip the bench (~10 min)
#
# Exits non-zero on the first failing stage.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/4 unit + property tests (the ROADMAP Tier-1 command) =="
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
  timeout -k 10 2670 python -m pytest tests/ -q \
  --continue-on-collection-errors -p no:cacheprovider

echo "== 2/4 driver simulation (pandas canon + stability, all keys) =="
python tools/driver_sim.py --all
# optional second sweep at another fixture scale (fixture-size flakes;
# ~17 min — run once per round, not on every preflight):
#   SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.001 python tools/driver_sim.py --all

echo "== 3/4 entry smoke (fresh default session, driver-style) =="
python - <<'EOF'
from pyspark.sql import SparkSession
import __spark_entry__ as ep
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
n = len(ep.entry(spark).collect())
assert n > 0, "entry() returned no rows"
q, o = ep.queries(), ep.oracle_sql()
extra = set(o) - set(q)
assert not extra, f"oracle_sql keys without queries(): {extra}"
print(f"entry() ok ({n} rows); {len(q)} queries, {len(o)} oracle-paired")
spark.stop()
EOF

if [[ "${1:-}" != "--fast" ]]; then
  echo "== 4/4 bench (one JSON line) =="
  python bench.py
fi
echo "PREFLIGHT GREEN"
