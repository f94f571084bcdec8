#!/usr/bin/env bash
# No-sbt class runner: run a graft main against the CURRENTLY compiled
# classes (target/scala-2.13/classes) without paying an sbt startup or
# triggering a recompile. Usage:
#   tools/run_class.sh graft.BenchOne q304_chrf 3
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY,
# SPARK_DRIVER_MEM (heap, default 8g).
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=" --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS ${GRAFT_EXTRA_JAVA_OPTS:-} \
  "${SPARK_GRAFT_GC_OPT:--XX:+UseParallelGC}" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:$(ls -d /opt/spark/jars/* | tr '\n' ':')" \
  "$MAIN" "$@"
