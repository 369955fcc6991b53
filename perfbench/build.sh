#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources (src/main/scala)
# together with the harness (perfbench/src) into <build-dir>/classes with the
# Scala compiler that ships in Spark's jars. Skips the compile when the
# sources are unchanged since the last build.
#
#   SPARK_HOME=<spark> bash perfbench/build.sh <build-dir>
#
# SPARK_HOME defaults to the installation whose spark-submit is on PATH.
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
out="${1:?usage: build.sh <build-dir>}"
if [ -z "${SPARK_HOME:-}" ] && command -v spark-submit >/dev/null; then
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
jars="${SPARK_HOME:?set SPARK_HOME or put spark-submit on PATH}/jars"

if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "build.sh: graft sources not found at $root/src/main/scala" >&2
  exit 2
fi
if ! ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1; then
  echo "build.sh: no scala-compiler jar under $jars (set SPARK_HOME)" >&2
  exit 2
fi

mapfile -t srcs < <(find "$root/src/main/scala" "$here/src" -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${srcs[@]}" "$0" | sha256sum | cut -c1-16)"
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -classpath "$jars/*" -d "$out/classes" "${srcs[@]}"
echo "$stamp" > "$out/classes.stamp"
