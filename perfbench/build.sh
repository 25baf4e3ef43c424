#!/usr/bin/env bash
# Compiles graft's library (src/main/scala, src/main/resources) and the
# benchmark harness (perfbench/src) into one class directory with the
# Scala compiler that ships in the Spark distribution's jars.
#
# Usage, from the repo root: perfbench/build.sh <out_dir>
# Needs SPARK_HOME (a Spark 4 / Scala 2.13 distribution) and java.
set -euo pipefail
out="$1"
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ]; then
  echo "build: run from the repo root (src/main/scala not found)" >&2
  exit 2
fi
jars="${SPARK_HOME:?SPARK_HOME must name a Spark distribution}/jars"
scalac_cp="$(ls "$jars"/scala-compiler-2.13*.jar "$jars"/scala-library-2.13*.jar \
  "$jars"/scala-reflect-2.13*.jar | tr '\n' ':')"
tmp="$out.tmp.$$"
rm -rf "$tmp"
mkdir -p "$tmp"
find src/main/scala perfbench/src -name '*.scala' > "$tmp/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$tmp" -cp "$scalac_cp" scala.tools.nsc.Main -nowarn \
  -classpath "$(ls "$jars"/*.jar | tr '\n' ':')" -d "$tmp" @"$tmp/sources.txt"
rm "$tmp/sources.txt"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$tmp/"; fi
rm -rf "$out"
mv "$tmp" "$out"
