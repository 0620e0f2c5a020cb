#!/usr/bin/env bash
# sf1 scale envelope (VERDICT r11 #2-#4): regenerate the deterministic
# 10x-of-sf0.1 corpus (~6M-row lineitem, 50k docs), then
#   1. run graft.Verify + the DuckDB oracle on ALL declared queries
#      (bounded-sample quantizer training makes the k-means oracle
#      chain sample-sized; the banding self-joins are bucket-capped),
#   2. run graft.ScaleInvariants — sampled est-vs-exact,
#      component/census/partition invariants — an INDEPENDENT second
#      correctness angle on the dedup/ANN artifacts at scale,
#   3. run graft.Bench at sf1 with its own rolling baseline
#      (BENCH_SF1.json; BenchGate keys baselines by scale factor, so the
#      sf0.1 artifacts never gate this run and vice versa).
# Output: CORRECTNESS_SF1.txt (oracle rows + invariant rows) and
# BENCH_SF1.json in the repo root.
#
# Usage: devtools/sf1.sh [src_sf_dir] [work_dir]
#   src_sf_dir  default /root/testdata/sf0.1
#   work_dir    default /tmp/graft-sf1 (corpus + verify output; the
#               corpus path must stay stable across rounds so the
#               BENCH_SF1 gate's sf-dir match holds)
# Expect ~20-30 min. Exit 0 iff oracle rows, invariants AND the bench
# error map are all clean.
set -euo pipefail
cd "$(dirname "$0")/.."

SRC="${1:-/root/testdata/sf0.1}"
WORK="${2:-/tmp/graft-sf1}"
CORPUS="$WORK/sf1"
OUT="$WORK/verify_out"
mkdir -p "$WORK"
rm -rf "$CORPUS" "$OUT"

# 512m code cache: a multi-build Spark session JIT-compiles thousands of
# janino classes; the 240m default fills mid-run and silently disables the
# JIT, degrading later stages 3-6x (measured on the sf1 build sequence).
ADDOPENS="-XX:ReservedCodeCacheSize=512m --add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
# the developer mains (ScaleInvariants) live in the test sources: run
# `sbt Test/compile` first
TEST_CP="target/scala-2.13/test-classes:$CP"

echo "== scalegen: $SRC -> $CORPUS (10x, stride 5000)"
python3 devtools/scalegen.py "$SRC" "$CORPUS" 10 5000

# ALL 112 declared queries: since the bounded-sample quantizer training
# (r12) the k-means oracle chain is sample-sized, and the banding
# self-joins turn out bucket-cap-bounded in DuckDB too — the full
# envelope is oracle-checkable at sf1 (the t11 recursive closure is the
# slowest oracle at ~2 min).
echo "== Verify at sf1 (all declared queries)"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx48g -cp "$CP" graft.Verify "$CORPUS" "$OUT" \
  2>"$WORK/verify.log"

echo "== DuckDB oracle cross-check at sf1"
python3 devtools/check.py "$CORPUS" "$OUT" | tee CORRECTNESS_SF1.txt

echo "== ScaleInvariants at sf1"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx48g -cp "$TEST_CP" graft.ScaleInvariants "$CORPUS" \
  2>"$WORK/invariants.log" | tee -a CORRECTNESS_SF1.txt

echo "== Bench at sf1 (rolling baseline: BENCH_SF1.json)"
PREV=""
[ -f BENCH_SF1.json ] && PREV="BENCH_SF1.json"
# same parallelism as the verify/invariant steps — the bench step
# previously inherited the 4-thread default, timing sf1 at a quarter of
# the parallelism every other step (and the sf0.1 artifact) uses
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  SPARK_GRAFT_SF_DIR="$CORPUS" SPARK_GRAFT_BENCH_OUT="BENCH_SF1.json" \
  SPARK_GRAFT_BENCH_PREV="$PREV" \
  java $ADDOPENS -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -Xmx48g -cp "$CP" graft.Bench \
  2>"$WORK/bench.log" | tail -1

grep -q ", 0 fail" CORRECTNESS_SF1.txt
grep -q "== invariants: all ok" CORRECTNESS_SF1.txt
python3 - <<'EOF'
import json
b = json.load(open('BENCH_SF1.json'))
assert not b.get('errors'), f"bench errors: {b['errors']}"
print(f"sf1 bench: {b['value']:.1f} s query-sum, gate pass={b['gate']['pass']}")
EOF
