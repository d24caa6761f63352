#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala)
# together with the benchmark client (perfbench/harness) into the
# class directory given as $1, with the Scala compiler and libraries
# that ship in the Spark distribution.
# Usage: perfbench/build.sh <out-dir>   (run from the repository root)
set -euo pipefail
out="$1"
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars/*"
test -d src/main/scala/graft || { echo "build.sh: no src/main/scala/graft here" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/harness -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out.tmp" -classpath "$jars" @"$out.tmp/sources.txt"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out.tmp/"; fi
rm -rf "$out"
mv "$out.tmp" "$out"
