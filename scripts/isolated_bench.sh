#!/bin/bash
# Per-family isolated bench: each query family alone in a FRESH JVM
# (bare java, no sbt), with Bench's own min-of-2 per query.
#
# Usage: scripts/isolated_bench.sh <classpath-file> <out-dir>
# Classpath file: one ':'-joined line, e.g. from
#   sbt --error 'print Runtime/fullClasspath' + Attributed() stripping.
set -u
CP_FILE=${1:?classpath file}
OUT=${2:?out dir}
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-32}
mkdir -p "$OUT"
CP=$(cat "$CP_FILE")
# family -> comma list, derived from the committed record's query names
FAMS=$(python3 - <<'PY'
import json, re, collections
q = json.load(open('BENCH_LOCAL.json'))['queries']
fam = collections.defaultdict(list)
for k in sorted(q):
    fam[re.match(r'[a-z]+', k).group(0)].append(k)
for f, ks in sorted(fam.items()):
    print(f + "=" + ",".join(ks))
PY
)
for line in $FAMS; do
  f=${line%%=*}; qs=${line#*=}
  echo "== family $f" >&2
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_ONLY="$qs" SPARK_GRAFT_BENCH_OUT="$OUT/fam_$f.json" \
  java -Xmx100g -cp "$CP" graft.Bench > "$OUT/fam_$f.log" 2>&1
  echo "   rc=$? $(grep -c 'rows=' "$OUT/fam_$f.log") runs" >&2
done
