#!/bin/bash
# Local runner for graft mains with the same JVM flags build.sbt forks with
# (Spark 4 on JDK 17 needs the add-opens set when launched outside
# spark-submit). Usage: tools/run.sh [-Djvm.flag=...]... <mainClass> [args...]
set -u
EXTRA=""
while [ $# -gt 0 ] && [ "${1#-D}" != "$1" ]; do EXTRA="$EXTRA $1"; shift; done
# GRAFT_CLASSES overrides the class dir — interleaved A/B runs point it at
# snapshotted builds of two commits without re-compiling between runs
CP="${GRAFT_CLASSES:-target/scala-2.13/classes}:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# UTF-8 stdout/stderr (JDK 17 reads the sun.std*.encoding properties), so
# non-ASCII characters of messages print as themselves, not as '?'
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dfile.encoding=UTF-8 -Dsun.stdout.encoding=UTF-8 -Dsun.stderr.encoding=UTF-8 \
  $EXTRA -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
