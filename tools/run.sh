#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars,
# bypassing sbt's JVM startup. Usage: tools/run.sh graft.Verify args...
cd "$(dirname "$0")/.." || exit 1
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -cp "/opt/spark/jars/*:target/scala-2.13/classes" "$@"
