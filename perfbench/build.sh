#!/usr/bin/env bash
# Compile the engine (src/main/scala) and the benchmark (perfbench/src)
# into $OUT with the Scala compiler that ships in Spark's jars, so no build
# tool or network is needed. Usage: perfbench/build.sh OUT_DIR
# Run from the repository root. Needs SPARK_HOME or spark-submit on PATH.
set -euo pipefail
out="$1"
if [[ -z "${SPARK_HOME:-}" ]]; then
  submit="$(command -v spark-submit)" || { echo "build: set SPARK_HOME" >&2; exit 2; }
  SPARK_HOME="$(cd "$(dirname "$(readlink -f "$submit")")/.." && pwd)"
fi
[[ -d src/main/scala/graft ]] || { echo "build: src/main/scala/graft not found (run from the repo root)" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -d "$out.tmp" @"$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
