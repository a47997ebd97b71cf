#!/bin/bash
# Run a graft main class directly on the compiled classes + /opt/spark/jars,
# mirroring build.sbt's forked-run JVM flags (add-opens, UTC, no UI, and a
# default heap of half of physical memory, at most 16g, at least 2g).
# Usage: tools/run_graft.sh <MainClass> [args...]
# Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM as usual.
set -u
CP_FILE="${GRAFT_CP_FILE:-/tmp/cp.txt}"
if [ ! -s "$CP_FILE" ]; then
  echo "classpath file $CP_FILE missing; run: sbt \"export Runtime/fullClasspath\" > it" >&2
  exit 2
fi
CP="$(cat "$CP_FILE")"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
DEFAULT_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 16 ? 16 : g) "g"}' /proc/meminfo 2>/dev/null)"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-${DEFAULT_MEM:-2g}}" \
  -cp "$CP" "$@"
