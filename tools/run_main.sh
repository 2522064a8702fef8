#!/bin/bash
# Run a graft main class against the compiled classes WITHOUT the sbt
# lock (sbt may be busy running tests). Mirrors build.sbt's javaOptions.
CLS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2..8 GiB
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $OPENS -Xmx$MEM -XX:+${GRAFT_GC:-UseParallelGC} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dspark.sql.codegen.cache.maxEntries=${GRAFT_CODEGEN_CACHE:-4000} \
  -cp "/opt/spark/jars/*:/root/repo/target/scala-2.13/classes" "$CLS" "$@"
