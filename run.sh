#!/bin/bash
# Run a graft main class against the local Spark jars.
# usage: ./run.sh <mainClass> [args...]
MAIN=$1; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
# test-classes: the probe and helper mains that live in src/test
# (ScaleProbeG4, ScaleProbeOps, PointerRaceReader) run the same way
TARGET="$(cd "$(dirname "$0")" && pwd)/target/scala-2.13"
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$TARGET/classes:$TARGET/test-classes:/opt/spark/jars/*" "$MAIN" "$@"
