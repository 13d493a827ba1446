#!/bin/bash
# Run a graft main class against the compiled sbt output without sbt startup
# overhead; build with `sbt Compile/products` first (classes AND resources),
# this does not rebuild. Heap as in build.sbt: SPARK_DRIVER_MEM, else 8g.
# Usage: scripts/run.sh graft.Verify <sfDir> <outDir> [query ...]
#        scripts/run.sh graft.Dev quick <sfDir> <query ...>
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLS="$1"; shift
# `sbt compile` alone leaves src/main/resources out of the classes dir, and
# without this service file the graft-ifile source is not found at run time
SERVICE="$ROOT/target/scala-2.13/classes/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"
if [ ! -f "$SERVICE" ]; then
  echo "scripts/run.sh: $SERVICE is missing; build with: sbt Compile/products" >&2
  exit 1
fi
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
