#!/bin/bash
# Local verify loop: run graft.Verify against compiled classes (skips sbt
# startup), then tools/check.py compares each output with the DuckDB oracle.
# Usage: verify.sh [SF_DIR] [OUT_DIR] [q_key1,q_key2,...]
#   3rd arg restricts BOTH the Spark run and the oracle compare to the
#   listed keys — the fast loop when iterating on one operator.
set -e
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/verify_out}"
ONLY="${3:-}"
# the checkout this script lives in, so a second checkout verifies its
# own classes; Spark's jars come from $SPARK_HOME
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
if [ -n "$ONLY" ]; then
  # subset mode: clear only the requested keys' outputs — wiping the
  # whole OUT dir would destroy a prior full run's other 120+ outputs
  IFS=',' read -ra KEYS <<< "$ONLY"
  for k in "${KEYS[@]}"; do rm -rf "$OUT/$k"; done
else
  rm -rf "$OUT"
fi
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" java $OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" ${ONLY:+"$ONLY"}
python3 "$ROOT/tools/check.py" "$SF" "$OUT" ${ONLY:+"$ONLY"}
