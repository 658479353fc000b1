#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars,
# bypassing sbt startup. Usage: tools/run_class.sh graft.Verify <args...>
set -e
cd "$(dirname "$0")/.."
JARS=/opt/spark/jars
# The jars the stdin pipe loads classes from come first, as build.sbt
# orders them: the JVM expands the wildcard in directory order, and opens
# jars in classpath order until one holds the class it needs.
HEAD=""
for p in scala-library jackson-core spark-common-utils_2.13 spark-sql-api_2.13; do
  HEAD="$HEAD$(ls "$JARS"/$p-[0-9]*.jar):"
done
CP="target/scala-2.13/classes:$HEAD$JARS/*"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${GRAFT_XMX:-8g}" -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -cp "$CP" "$@"
