#!/bin/bash
# Run graft.Bench from a compiled classes dir with the same JVM recipe
# sbt's forked `run` uses (build.sbt), minus sbt's own startup noise.
# Usage: runbench.sh <classesDir> <outFile> [extra env via environment]
set -e
CLASSES="$1"; OUT="$2"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# EXTRA_SPARK_OPTS: extra -D system properties (e.g.
# "-Dspark.memory.fraction=0.3") — SparkSession.builder picks spark.*
# system properties up, the lever for the constrained-memory campaigns.
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  ${EXTRA_SPARK_OPTS:-} \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Bench > "$OUT.log" 2>&1
