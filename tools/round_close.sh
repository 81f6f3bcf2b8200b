#!/usr/bin/env bash
# Round-close verification ledger (r13 VERDICT task 7): ONE scripted run
# that leaves the full two-scale-factor claim on disk, so the close can
# state "N/N at sf0.01 AND M/M at sf0.1 (minus the declared list)"
# without hand-assembled evidence.
#
#   bash tools/round_close.sh [outdir]
#
# Produces under $OUT:
#   compare_sf0.01.txt   gate board vs DuckDB at the driver's sf (full)
#   compare_sf0.1.txt    the second-scale-factor sweep (per-oracle
#                        subprocess + 300 s kill, tools/compare_timed.py)
#   planaudit.txt        plan-hygiene sweep over every gate plan
#   bench.json           the sf0.1 board line (GRAFT_BENCH_JSON)
set -uo pipefail
cd "$(dirname "$0")/.."
OUT=${1:-target/round_close}
mkdir -p "$OUT"

echo "== 1/4 correctness at sf0.01 (driver replica)"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 $OUT/verify_sf0.01" \
  > "$OUT/verify_sf0.01.log" 2>&1
python3 tools/compare.py /root/testdata/sf0.01 "$OUT/verify_sf0.01" \
  > "$OUT/compare_sf0.01.txt" 2>&1
tail -1 "$OUT/compare_sf0.01.txt"

echo "== 2/4 correctness at sf0.1 (second scale factor)"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.1 $OUT/verify_sf0.1" \
  > "$OUT/verify_sf0.1.log" 2>&1
python3 tools/compare_timed.py /root/testdata/sf0.1 "$OUT/verify_sf0.1" \
  > "$OUT/compare_sf0.1.txt" 2>&1
grep -cE "^\s*\[PASS\]" "$OUT/compare_sf0.1.txt" | \
  xargs -I{} echo "   sf0.1 passes: {}"
grep -E "^\s*\[(FAIL|TIMEOUT)\]" "$OUT/compare_sf0.1.txt" | head -20

echo "== 3/4 plan audit"
sbt -batch "runMain graft.PlanAudit" > "$OUT/planaudit.txt" 2>&1
grep "\[audit\]" "$OUT/planaudit.txt" | tail -3

echo "== 4/4 bench board at sf0.1"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 sbt -batch \
  "runMain graft.Bench" > "$OUT/bench.log" 2>&1
grep "GRAFT_BENCH_JSON" "$OUT/bench.log" | tail -1 > "$OUT/bench.json"
cp BENCH_SELF.json "$OUT/bench_self.json" 2>/dev/null || true
echo "done → $OUT"
