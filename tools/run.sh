#!/bin/bash
# sbt-free runner for graft mains (Bench, Verify, ScaleUp, the censuses
# and the remaining tools under src/main/scala/graft/tools):
#   tools/run.sh <mainClass> [args...]
# Uses the classes sbt last compiled (run `sbt -batch compile` first) plus
# the image's Spark jars, with the same JDK-17 --add-opens set as
# build.sbt. Avoids sbt's project lock, so a long corpus generation and a
# compile can proceed in parallel. SPARK_DRIVER_MEM sizes the heap (8g
# default; sweeps at sf10 need 48g — see tools/sweep.py).
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
