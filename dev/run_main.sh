#!/bin/bash
# Run a graft main directly against the compiled classes + Spark jars
# (no sbt startup, no sbt lock). Usage: dev/run_main.sh graft.Bench [args...]
# Env (SPARK_GRAFT_*) passes through.
set -euo pipefail
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
# Default heap: half of MemTotal, clamped to 2-8 GB (the test-suite rule).
# SPARK_GRAFT_XMX overrides it (e.g. 48g for two concurrent JVMs).
XMX_DEFAULT="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
exec java -Xmx"${SPARK_GRAFT_XMX:-$XMX_DEFAULT}" -XX:+UseG1GC \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$CP" "$@"
