#!/bin/bash
# Fresh-JVM single-query runner matching the Bench fork JVM (16g
# pre-touched heap, default G1). A lazily grown heap hits the first-touch
# wall on VM guests where touching fresh pages is slow (measured: 190 s
# for a query the pre-touched shared JVM runs in 8.8 s), so per-query
# A/Bs must pre-touch exactly like the bench JVM does. <query> may also
# be a RunOne library surface (semdedup_scaled, topk_control).
#
# Usage: tools/runone_iso.sh <sfDir> <query> [extra RunOne args...]
set -u
SF=${1:?sfDir}
Q=${2:?query}
shift 2
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} java -Xmx16g -Xms16g -XX:+AlwaysPreTouch $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.RunOne "$Q" "$SF" "$@" 2>&1 | grep -E '\[runone\]|Exception|Error'
