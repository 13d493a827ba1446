#!/bin/bash
# Run a graft main class against the compiled sbt output without sbt startup
# overhead; compile with sbt first, this does not rebuild. Heap as in
# build.sbt: SPARK_DRIVER_MEM, else 8g.
# Usage: scripts/run.sh graft.Verify <sfDir> <outDir> [query ...]
#        scripts/run.sh graft.Dev quick <sfDir> <query ...>
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLS="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:/opt/spark/jars/*" \
  "$CLS" "$@"
