# Sourced by tools/abrun.sh and tools/graftrun.sh: the JDK17 add-opens
# that build.sbt passes to forked JVMs (OPENS) and the default heap
# (HALF_MEM: half of MemTotal clamped to 2–8 g, the SPARK_DRIVER_MEM
# sizing of the tier-1 test run).
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HALF_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
