#!/usr/bin/env bash
# Run a graft main class directly on the compiled classes + Spark jars,
# bypassing sbt (no build-lock serialization; same JVM flags as build.sbt:
# Spark's driver module flags from the @argfile `sbt compile` writes).
# Usage: tools/run_main.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g) — matches the sbt fork options.
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes
OPTIONS=target/java-module-options
[ -d "$CLASSES" ] && [ -f "$OPTIONS" ] || { echo "compile first: sbt compile" >&2; exit 1; }
exec java @"$OPTIONS" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
