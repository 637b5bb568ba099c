#!/usr/bin/env bash
# Launch a graft tool main directly on the compiled classes + Spark jars,
# bypassing sbt (one sbt at a time; background runs want independence).
# Usage: dev/run_tool.sh graft.tools.ScaleBench [args...]
# Classes come from the repository holding this script (compile with sbt
# first), jars from the directory build.sbt compiles against. The heap
# defaults to half the machine's memory, clamped to 2-8 GB (the test
# suite's driver sizing); GRAFT_XMX overrides it.
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
default_xmx() {
  awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
    /proc/meminfo 2>/dev/null || echo 2g
}
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
exec java ${GRAFT_JAVA_OPTS:-} \
  -Xmx${GRAFT_XMX:-$(default_xmx)} \
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
  -Dio.netty.tryReflectionSetAccessible=true \
  -cp "$CP" "$@"
