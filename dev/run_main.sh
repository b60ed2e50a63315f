#!/bin/bash
# Run a graft main class in a forked JVM outside sbt (same flags as
# build.sbt's run task). Usage:
#   SPARK_DRIVER_MEM=24g dev/run_main.sh graft.Bench [args...]
# Env passthrough: SPARK_GRAFT_SF_DIR, GRAFT_BENCH_* etc. are plain env
# vars and reach the JVM unchanged; GRAFT_JAVA_OPTS adds raw JVM flags.
set -euo pipefail
MAIN="$1"; shift
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=1g \
  ${GRAFT_JAVA_OPTS:-} \
  -cp "$CP" "$MAIN" "$@"
