#!/usr/bin/env bash
# Compiles the engine (src/main/scala) and the benchmark (perfbench/src)
# into one class directory with the Scala compiler that ships with Spark.
# Run from the repository root: bash perfbench/build.sh [out_dir]
set -euo pipefail
out=${1:-.bench_build/classes}
: "${SPARK_HOME:?SPARK_HOME must name the Spark installation}"
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$SPARK_HOME/jars/*" "@$out.tmp.sources"
rm -rf "$out" "$out.tmp.sources"
mv "$out.tmp" "$out"
