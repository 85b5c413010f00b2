#!/bin/bash
# Run a graft main class directly against compiled classes + spark jars
# (much faster iteration than sbt runMain). Usage: run_graft.sh <MainClass> [args...]
# The driver heap follows SPARK_DRIVER_MEM, with build.sbt's default.
MAIN=$1; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
mkdir -p /dev/shm/spark-local
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-16g} -XX:ReservedCodeCacheSize=2g -Dspark.local.dir=/dev/shm/spark-local -Dspark.sql.warehouse.dir=/tmp/graft-warehouse -Dderby.system.home=/tmp/graft-derby $GRAFT_JAVA_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
