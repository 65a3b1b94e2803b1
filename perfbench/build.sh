#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine sources
# (src/main/scala) together with the benchmark's own (perfbench/src)
# into OUTDIR/classes, using the Scala compiler that ships with the
# Spark distribution (no dependency resolution, no network).
#
#   SPARK_HOME=... bash perfbench/build.sh OUTDIR
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="${1:?usage: build.sh OUTDIR}"
jars="${SPARK_HOME:?set SPARK_HOME to the Spark distribution}/jars"
if [ ! -d "$root/src/main/scala" ]; then
  echo "build.sh: no engine sources at $root/src/main/scala" >&2
  exit 2
fi
rm -rf "$out/classes"
mkdir -p "$out/classes"
find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' | sort > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -cp "$jars/*" "@$out/sources.txt"
