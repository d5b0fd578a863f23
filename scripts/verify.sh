#!/bin/bash
# Local correctness loop: compile, run graft.Verify on a scale factor,
# then hash-compare each query's parquet output against DuckDB's oracle.
#
#   bash scripts/verify.sh [sfDir] [outDir]
#
# Verifies the checkout this script lives in. The query output, the
# compile log and the Verify stderr log all go under outDir, so two
# checkouts (or two runs) with different outDirs do not collide.
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
cd "$ROOT"
rm -rf "$OUT"
mkdir -p "$OUT"
# compile must actually gate the run: a swallowed failure here would
# verify stale classes and report PASS for broken code
sbt -batch compile -warn > "$OUT/compile.log" 2>&1 || {
  echo "COMPILE FAILED:"; grep -E 'error' "$OUT/compile.log" | head -20; exit 1; }
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT/queries" 2>"$OUT/stderr.log" || {
  echo "VERIFY FAILED:"; grep -m3 -E 'Exception|Error' "$OUT/stderr.log"; exit 1; }
python3 "$ROOT/scripts/compare.py" "$SF" "$OUT/queries"
