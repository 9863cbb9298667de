#!/bin/bash
# Direct-JVM runner for graft mains: same JDK17 add-opens as build.sbt,
# no sbt build lock — lets a campaign main run while sbt is busy.
# Usage: tools/graftrun.sh [-Xmx...] graft.Main args...
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# default heap: half of MemTotal clamped to 2–8 g, the SPARK_DRIVER_MEM
# sizing of the tier-1 test run; SPARK_DRIVER_MEM or a leading -Xmx overrides
HALF_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
XMX="-Xmx${SPARK_DRIVER_MEM:-$HALF_MEM}"
if [[ "${1:-}" == -Xmx* ]]; then XMX="$1"; shift; fi
exec java $OPENS $XMX \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
