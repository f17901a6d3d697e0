#!/bin/bash
# Run a graft main outside sbt (so it can go concurrently with sbt test).
# Usage: tools/run_main.sh <MainClass> [args...]
# Runs the classes compiled in the checkout that holds this script, with
# its resources read from the source tree (a plain `sbt compile` does not
# copy them); the Spark jars are the ones build.sbt compiles against.
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
MAIN=$1; shift
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:$REPO/src/main/resources:/opt/spark/jars/*" "$MAIN" "$@"
