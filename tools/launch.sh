#!/bin/bash
# Run a main class on the compiled classes (target/ of this checkout,
# built by `sbt compile`) without sbt: no startup cost, no sbt lock, so
# it can overlap a running test suite. Usage:
#   tools/launch.sh <main-class> [args...]
# Heap: SPARK_DRIVER_MEM (default 16g), as in build.sbt.
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
# Spark on JDK 17 needs these outside spark-submit; the same list as
# build.sbt's jdk17AddOpens
OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
# Spark's jars: the directory build.sbt names as unmanagedBase
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
exec java "${OPENS[@]}" -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" "$@"
