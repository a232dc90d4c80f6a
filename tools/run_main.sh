#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (bypasses sbt's project lock so verify/bench can run alongside sbt test).
# Usage: tools/run_main.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM (default: half of MemTotal, clamped to 2-8g),
#      SPARK_DRIVER_XMS (optional)
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
XMS=""
[ -n "$SPARK_DRIVER_XMS" ] && XMS="-Xms$SPARK_DRIVER_XMS"
exec java $OPENS $XMS -Xmx"$MEM" -cp "$CP" "$@"
