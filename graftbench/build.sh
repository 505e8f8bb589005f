#!/usr/bin/env bash
# Compiles graft (src/main/scala of the checkout) together with the
# benchmark sources into <out>/classes, using the Scala compiler that ships
# among Spark's jars. Skips the compile when the sources are unchanged.
#
# Usage: graftbench/build.sh <out>   (run from the root of a checkout)
set -euo pipefail
out="$1"
here="$(cd "$(dirname "$0")" && pwd)"
root="$(cd "$here/.." && pwd)"
if [ -n "${SPARK_HOME:-}" ]; then
  jars="$SPARK_HOME/jars"
else
  jars="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")/jars"
fi
if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "build: no graft sources under $root/src/main/scala" >&2
  exit 1
fi
mapfile -t srcs < <(find "$root/src/main/scala" "$here/src" -name '*.scala' | sort)
stamp="$(cat "${srcs[@]}" "$0" | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp/classes"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp/classes" -classpath "$jars/*" "${srcs[@]}"
echo "$jars" > "$out.tmp/jars"
echo "$stamp" > "$out.tmp/stamp"
rm -rf "$out"
mv "$out.tmp" "$out"
