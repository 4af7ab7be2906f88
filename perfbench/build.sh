#!/usr/bin/env bash
# Compiles the engine's main sources and the benchmark harness into one
# class directory: bash perfbench/build.sh OUT_DIR
# Run from the repository root. Uses the Scala compiler that ships with
# Spark's jars ($SPARK_HOME/jars, or beside spark-submit on the PATH), so
# no sbt start-up or dependency resolution is involved.
set -euo pipefail
out=$1
jars=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}/jars
[ -d src/main/scala ] || { echo "build: no src/main/scala here" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/harness -name '*.scala' | sort > "$out.tmp.sources"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out.tmp" @"$out.tmp.sources"
rm -rf "$out" "$out.tmp.sources"
mv "$out.tmp" "$out"
