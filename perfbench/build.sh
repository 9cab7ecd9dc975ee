#!/bin/bash
# Build file of the benchmark package: compiles the program's sources
# (src/main/scala) together with the benchmark harness (perfbench/scala)
# into OUT_DIR/harness.jar, using the Scala compiler that ships with the
# Spark distribution. Run from the repository root:
#   SPARK_JARS=$SPARK_HOME/jars bash perfbench/build.sh OUT_DIR
set -euo pipefail
out=$1
spark_jars=${SPARK_JARS:?set SPARK_JARS to the Spark distribution jars directory}
[ -d src/main/scala ] || { echo "build: src/main/scala not found" >&2; exit 2; }
rm -rf "$out"
mkdir -p "$out/classes"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$out/sources"
# An explicit classpath: the compiler's default would include the current
# directory, where the perfbench/ directory shadows the perfbench package.
cp=$(printf '%s:' "$spark_jars"/*.jar)
java -Xmx2g -Xss8m -XX:-UsePerfData -Djava.io.tmpdir="$out" -cp "$spark_jars/*" scala.tools.nsc.Main \
  -classpath "$cp" -nowarn -d "$out/classes" @"$out/sources"
jar cf "$out/harness.jar" -C "$out/classes" .
rm -rf "$out/classes" "$out/sources"
