#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars.
# Usage: tools/run.sh graft.Bench [args...]
#   env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: all cores),
#        SPARK_DRIVER_MEM (default: half of MemTotal, clamped to 2-8g)
# The classes and the log config come from the checkout holding this script,
# so a copy of the repo runs its own build.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
MAIN=$1; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}
exec java $OPENS -Xmx$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dlog4j2.configurationFile="file://$ROOT/conf/log4j2.properties" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$MAIN" "$@"
