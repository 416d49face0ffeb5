#!/bin/bash
# Run graft.Verify outside sbt (fast JVM launch against compiled classes).
# Usage: tools/run_verify.sh [sfDir] [outDir]
# Classes and fixtures default to the checkout this script lives in.
set -e
ROOT=$(cd "$(dirname "$0")/.." && pwd)
export SPARK_GRAFT_REPO_DIR=${SPARK_GRAFT_REPO_DIR:-$ROOT}
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
 --add-opens java.base/sun.security.action=ALL-UNNAMED \
 --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
# GRAFT_XMX: raise for ScaleGen replica sweeps (100x needs ~32g headroom)
exec java $ADD_OPENS -Xmx${GRAFT_XMX:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "${GRAFT_CLASSES:-$ROOT/target/scala-2.13/classes}:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT"
