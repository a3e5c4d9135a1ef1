#!/bin/bash
# Run a graft main class against the compiled target without sbt.
# usage: tools/run_class.sh <MainClass> [extra -D opts...]
# The classpath is this checkout's target/ plus $SPARK_HOME/jars.
# stdout/stderr are UTF-8 whatever the locale: sun.*.encoding for JDK 17,
# stdout/stderr.encoding for JDK 19+ (under LC_ALL=C the default prints
# non-ASCII as '?').
CLS=$1; shift
ROOT=$(cd "$(dirname "$0")/.." && pwd)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-16g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dsun.stdout.encoding=UTF-8 -Dsun.stderr.encoding=UTF-8 \
  -Dstdout.encoding=UTF-8 -Dstderr.encoding=UTF-8 $JAVA_EXTRA \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to a Spark 4.1 install}/jars/*" "$CLS" "$@"
