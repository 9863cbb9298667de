#!/bin/bash
# Alternating A/B bench runner: runs graft.Bench against a snapshot
# classes dir (arg 1) so two compiled states can be interleaved on the
# same box without recompiling — cancels box drift that poisons
# sequential stash/compile A/Bs. JVM options from tools/jvmopts.sh.
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES="$1"; shift
. tools/jvmopts.sh
# default heap HALF_MEM; SPARK_DRIVER_MEM overrides it
# ABRUN_OPTS: extra JVM flags (e.g. -Dspark.* conf probes for an A/B —
# SparkSession.builder picks spark.* system properties up as conf); an
# -Xmx there comes later on the command line, so it wins
exec java $OPENS "-Xmx${SPARK_DRIVER_MEM:-$HALF_MEM}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${ABRUN_OPTS:-} \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
