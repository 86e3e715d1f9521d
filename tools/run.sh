#!/bin/bash
# Dev launcher: run a graft main class without sbt startup overhead.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
CLS="$1"; shift
# the checkout this script lives in, so a second checkout runs its own classes
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-16g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$CLS" "$@"
