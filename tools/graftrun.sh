#!/bin/bash
# Direct-JVM runner for graft mains: same JDK17 add-opens as build.sbt,
# no sbt build lock — lets a campaign main run while sbt is busy.
# Usage: tools/graftrun.sh [-Xmx...] graft.Main args...
set -euo pipefail
cd "$(dirname "$0")/.."
. tools/jvmopts.sh
# default heap HALF_MEM; SPARK_DRIVER_MEM or a leading -Xmx overrides it
XMX="-Xmx${SPARK_DRIVER_MEM:-$HALF_MEM}"
if [[ "${1:-}" == -Xmx* ]]; then XMX="$1"; shift; fi
exec java $OPENS $XMX \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
