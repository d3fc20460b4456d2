#!/bin/bash
# Run a graft main class directly against the compiled classes —
# bypasses the sbt project lock so compiles and long runs can overlap.
# Usage: tools/run_main.sh <MainClass> [args...], where MainClass is one of
#   graft.Bench                        (env SPARK_GRAFT_SF_DIR)
#   graft.Verify <sfDir> <outDir> [query ...]
#   graft.Profile <query> [query ...]  (env SPARK_GRAFT_SF_DIR)
MAIN=$1; shift
# this checkout's classes, wherever it lives (an A/B copy runs its own)
ROOT=$(cd "$(dirname "$0")/.." && pwd)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
