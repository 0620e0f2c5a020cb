#!/usr/bin/env bash
# Three-point scale evidence (r12): extend the append-cost experiment to
# a TRUE 100x of sf0.1 (the scalegen'd sf10 corpus — 500k docs, 500k
# embeddings, 60M-row lineitem). With the 1x and 10x ScaleProbe rows
# this gives a 1x -> 10x -> 100x curve per build/serve/append step: the
# O(batch) incremental-maintenance claim predicts the append rows stay
# ~flat across TWO orders of magnitude while the builds grow ~linearly.
#
# Usage: devtools/sf10probe.sh [src_sf_dir] [work_dir]
# Expect ~30-60 min (Lloyd training is bounded-sample since r12, so the
# linear terms are the per-row build scans — assignment, banding,
# shingling). Output: one ScaleProbe JSON line (also appended to
# $WORK/probe.jsonl with the corpus dir inside).
set -euo pipefail
cd "$(dirname "$0")/.."

SRC="${1:-/root/testdata/sf0.1}"
WORK="${2:-/tmp/graft-sf10}"
CORPUS="$WORK/sf10"
mkdir -p "$WORK"

# 512m code cache: a multi-build Spark session JIT-compiles thousands of
# janino classes; the 240m default fills mid-run and silently disables the
# JIT, degrading later stages 3-6x (measured on the sf1 build sequence).
ADDOPENS="-XX:ReservedCodeCacheSize=512m --add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# ScaleProbe and ScaleInvariants live in the test sources: run
# `sbt Test/compile` first
CP="target/scala-2.13/test-classes:target/scala-2.13/classes:/opt/spark/jars/*"

if [ ! -f "$CORPUS/documents.parquet" ]; then
  echo "== scalegen: $SRC -> $CORPUS (100x, stride 5000)"
  python3 devtools/scalegen.py "$SRC" "$CORPUS" 100 5000
fi

echo "== ScaleProbe at 100x"
# stage profile on stdout: at this scale the per-stage split IS the
# diagnosis (the 100x run is how the cluster-sized CC frontier and the
# result-sized verify terms were found). probe.jsonl stays one JSON
# line per run — the profile lines go to probe.out only.
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" java $ADDOPENS \
  -Dgraft.buildProfile \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx96g -cp "$CP" graft.ScaleProbe "$CORPUS" \
  2>"$WORK/probe.log" | tee "$WORK/probe.out"
grep '^{"dir"' "$WORK/probe.out" >> "$WORK/probe.jsonl"

# Correctness rows at the timed scale (r13): the 100× point carried
# timings but no correctness evidence — the invariants are linear, the
# probe just built every artifact, so the 12 rows are cheap here.
# Output lands in the repo root like CORRECTNESS_SF1.txt does for sf1.
echo "== ScaleInvariants at 100x"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx96g -cp "$CP" graft.ScaleInvariants "$CORPUS" \
  2>"$WORK/invariants.log" | tee CORRECTNESS_SCALE100.txt
grep -q "== invariants: all ok" CORRECTNESS_SCALE100.txt

# IVF geometry knob at the timed scale (r13): price the oracle-pinned
# k=8 serve next to k=64 on the same corpus — the n/k probed-fraction
# term a 100 TB deployment controls by training k ~ sqrt(n). One JSON
# line appended to probe.jsonl like the main probe's.
echo "== IVF geometry probe (k=8 vs k=64) at 100x"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx96g -cp "$CP" graft.ScaleProbe "$CORPUS" ivfk:64 \
  2>>"$WORK/probe.log" | tee -a "$WORK/probe.jsonl"
