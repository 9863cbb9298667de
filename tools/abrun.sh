#!/bin/bash
# Alternating A/B bench runner: runs graft.Bench against a snapshot
# classes dir (arg 1) so two compiled states can be interleaved on the
# same box without recompiling — cancels box drift that poisons
# sequential stash/compile A/Bs. Same JDK17 add-opens as graftrun.sh.
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# default heap: half of MemTotal clamped to 2–8 g, the SPARK_DRIVER_MEM
# sizing of the tier-1 test run; SPARK_DRIVER_MEM overrides it
HALF_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
# ABRUN_OPTS: extra JVM flags (e.g. -Dspark.* conf probes for an A/B —
# SparkSession.builder picks spark.* system properties up as conf); an
# -Xmx there comes later on the command line, so it wins
exec java $OPENS "-Xmx${SPARK_DRIVER_MEM:-$HALF_MEM}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${ABRUN_OPTS:-} \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
