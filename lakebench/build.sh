#!/usr/bin/env bash
# Builds the benchmark client together with the engine it drives: every
# Scala file under src/main/scala plus lakebench/src, compiled by the
# Scala compiler that ships in Spark's jars (no sbt, no downloads).
#
#   lakebench/build.sh <out-dir>      -> <out-dir>/classes/lakebench.jar
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="${1:?usage: build.sh <out-dir>}"
jars="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}/jars"
[ -d "$jars" ] || { echo "Spark jars not found (set SPARK_HOME)" >&2; exit 1; }
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
mapfile -t sources < <(find "$root/src/main/scala" "$root/lakebench/src" -name '*.scala' | sort)
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out/classes.tmp" -classpath "$jars/*" "${sources[@]}"
cp "$root/src/main/resources/log4j2.properties" "$out/classes.tmp/"
# a jar, because the JVM's class-data sharing archives classes from jars only
jar cf "$out/classes.tmp/lakebench.jar" -C "$out/classes.tmp" .
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
