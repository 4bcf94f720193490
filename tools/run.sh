#!/bin/bash
# Fast runner: java directly against compiled classes + Spark jars,
# skipping sbt's JVM startup. Usage: tools/run.sh graft.Scratch [args...]
set -e
CLS="$1"; shift || true
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
# POSIX locale makes the JVM's JNI filename encoding ASCII and breaks
# non-ASCII paths (the reference's real blobs); JDK 17 ignores
# -Dsun.jnu.encoding, so set the locale itself.
export LC_ALL=C.UTF-8
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$CLS" "$@"
