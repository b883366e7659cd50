#!/usr/bin/env bash
# Fast runner for graft mains against the sbt-compiled classes.
# Usage: tools/run.sh graft.Bench [args...]   (env: SPARK_GRAFT_SF_DIR etc.)
# Runs the classes of the checkout this script is in. Output is UTF-8
# whatever the locale (sun.std*.encoding: JDK 17 ignores stdout.encoding,
# and file.encoding would change the default charset everywhere).
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# the Spark jars are the ones build.sbt compiles against (unmanagedBase)
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
CP="$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:$(ls "$JARS"/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} ${SPARK_DRIVER_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dsun.stdout.encoding=UTF-8 -Dsun.stderr.encoding=UTF-8 \
  -cp "$CP" "$@"
