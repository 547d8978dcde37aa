#!/bin/bash
# Run a graft main class from the ALREADY-COMPILED classes without sbt —
# so long background measurements (sf1 bench/smoke) can never race a
# dirty source tree into a recompiled binary mid-script (the round-11
# lesson: sbt runMain recompiles dirty sources silently).
# Usage: tools/run_main.sh graft.Harness <bench|verify|smoke|explain|keys> [args...]
#        tools/run_main.sh graft.Bench [keys...]   (data dir: SPARK_GRAFT_SF_DIR)
set -euo pipefail
cd "$(dirname "$0")/.."
CLS="$1"; shift
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
# snapshot the classes so a concurrent `sbt compile` can never swap
# class files under a running JVM (classes load lazily per query)
SNAP=$(mktemp -d /tmp/graft_cls_XXXX)
trap 'rm -rf "$SNAP"' EXIT
cp -r target/scala-2.13/classes/. "$SNAP/"
java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$SNAP:/opt/spark/jars/*" \
  "$CLS" "$@"
