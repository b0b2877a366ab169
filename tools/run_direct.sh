#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt lock) — same
# JVM flags as build.sbt's forked run. Usage:
#   tools/run_direct.sh graft.tools.JobProfile <sfDir> <query> [query...]
# The heap defaults to half the host's RAM, clamped to 2-8 GB (build.sbt's
# rule); SPARK_DRIVER_MEM overrides it.
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
if [ -z "${SPARK_DRIVER_MEM:-}" ]; then
  SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
    END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
fi
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$SPARK_DRIVER_MEM" -XX:ReservedCodeCacheSize=512m \
  -cp "$CP" "$@"
