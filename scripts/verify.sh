#!/bin/bash
# Local correctness loop: compile, run graft.Verify on a scale factor,
# then hash-compare each query's parquet output against DuckDB's oracle.
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
cd /root/repo
# compile must actually gate the run: a swallowed failure here would
# verify stale classes and report PASS for broken code
sbt -batch compile -warn > /tmp/graft_compile.log 2>&1 || {
  echo "COMPILE FAILED:"; grep -E 'error' /tmp/graft_compile.log | head -20; exit 1; }
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" 2>"${OUT}_stderr.log" || {
  echo "VERIFY FAILED:"; grep -m3 -E 'Exception|Error' "${OUT}_stderr.log"; exit 1; }
python3 /root/repo/scripts/compare.py "$SF" "$OUT"
