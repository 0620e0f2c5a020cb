#!/usr/bin/env bash
# Price BOTH arms of the textdup mining dispatch on a REPLICA-DOMINATED
# corpus (VERDICT r14 #3): the census dispatch (TextOps.contractionPays)
# was measured on the 100x probe corpus where contraction LOSES 2x
# (reps ~ docs); this probe builds the other shape — every sf0.1 doc
# byte-replicated 100x (500k docs, ~5k distinct texts, reps/docs ~ 0.01,
# the crawl-with-mirrors shape) — and times textdup under
# -Dgraft.textdup.mine=rep vs =doc, asserting the seven artifact tables
# land row-identical (count + order-independent hash per table).
#
# Usage: devtools/repprobe.sh [src_sf_dir] [work_dir]
#   src_sf_dir  default /root/testdata/sf0.1
#   work_dir    default /tmp/graft-repprobe
# Output: two timing lines + table checksums on stdout; append the
# timing pair to SCALE100.txt by hand (with the run context).
set -euo pipefail
cd "$(dirname "$0")/.."

SRC="${1:-/root/testdata/sf0.1}"
WORK="${2:-/tmp/graft-repprobe}"
CORPUS="$WORK/corpus"
REPLICAS=100
STRIDE=5000
mkdir -p "$WORK"

# 512m code cache: a multi-build Spark session JIT-compiles thousands of
# janino classes; the 240m default fills mid-run and silently disables the
# JIT, degrading later stages 3-6x (measured on the sf1 build sequence).
ADDOPENS="-XX:ReservedCodeCacheSize=512m --add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# BuildTool lives in the test sources: run `sbt Test/compile` first
CP="target/scala-2.13/test-classes:target/scala-2.13/classes:/opt/spark/jars/*"

if [ ! -f "$CORPUS/documents.parquet" ]; then
  echo "== corpus: $SRC docs x $REPLICAS byte-identical replicas -> $CORPUS"
  mkdir -p "$CORPUS"
  python3 - "$SRC" "$CORPUS" <<EOF
import sys, duckdb
src, dst = sys.argv[1], sys.argv[2]
duckdb.sql(f"""
COPY (
  SELECT doc_id + $STRIDE*r.k AS doc_id, text, lang, source, n_chars
  FROM '{src}/documents.parquet',
       (SELECT unnest(generate_series(0, $REPLICAS - 1)) AS k) r
) TO '{dst}/documents.parquet' (FORMAT PARQUET)
""")
n, d = duckdb.sql(f"SELECT count(*), count(DISTINCT text) FROM '{dst}/documents.parquet'").fetchone()
print(f"   {n} docs, {d} distinct texts (reps/docs = {d/n:.4f})")
EOF
fi

run_arm () {  # $1 = rep|doc
  echo "== textdup build, mine=$1"
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" java $ADDOPENS \
    -Dgraft.textdup.mine="$1" -Dgraft.buildProfile \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Xmx96g -cp "$CP" graft.BuildTool "$CORPUS" -cold sig textdup \
    2>"$WORK/build_$1.log" | tee "$WORK/time_$1.txt"
  python3 - "$WORK/sums_$1.txt" "$CORPUS" <<'EOF'
import sys, glob, duckdb, hashlib
out, corpus = sys.argv[1], sys.argv[2]
# the warehouse keys artifacts by dataset tag: basename + 8-hex MD5 of
# the dataset path (Warehouse.dsTag) — match OUR corpus, not whatever
# other dataset's textdup sorts last, and skip in-flight/staged dirs
tag = f"{corpus.rstrip('/').split('/')[-1]}-{hashlib.md5(corpus.encode()).hexdigest()[:8]}"
arts = [a for a in glob.glob(f'spark-warehouse/graft/textdup@default@{tag}@*')
        if '.tmp-' not in a and '.compact-' not in a]
assert len(arts) == 1, f"expected one completed textdup artifact for {tag}: {arts}"
art = arts[0]
lines = []
for t in ['pairs', 'verify', 'comp', 'nearpairs', 'sizes', 'pairbk', 'audit']:
    files = glob.glob(f'{art}/{t}/*.parquet')
    if not files:
        lines.append(f'{t} 0 0'); continue
    cols = [r[0] for r in duckdb.sql(f"DESCRIBE SELECT * FROM parquet_scan({files!r})").fetchall()]
    h = ', '.join(f'"{c}"' for c in cols)
    n, s = duckdb.sql(
        f"SELECT count(*), coalesce(sum(cast(hash({h}) as hugeint)), 0) "
        f"FROM parquet_scan({files!r})").fetchone()
    lines.append(f'{t} {n} {s}')
open(out, 'w').write('\n'.join(lines) + '\n')
print('\n'.join(lines))
EOF
}

run_arm rep
run_arm doc

echo "== artifact equality (rep vs doc arms)"
diff "$WORK/sums_rep.txt" "$WORK/sums_doc.txt" \
  && echo "IDENTICAL: all seven tables match (count + hash)" \
  || { echo "MISMATCH between mining arms"; exit 1; }
echo "== timings"
paste <(sed 's/^/rep: /' "$WORK/time_rep.txt") <(sed 's/^/doc: /' "$WORK/time_doc.txt")
