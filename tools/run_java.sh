#!/bin/bash
# Plain-java runner for graft mains (Bench, BenchReps, Verify, PlanAudit,
# ScaleGen, ScaleProbe, StreamScaleProbe, ContainmentStaged) outside sbt —
# avoids sbt target-lock contention when the test suite is running, while
# matching the build.sbt fork protocol EXACTLY (same add-opens, same -Xmx
# default; see NOTES round-9 session-2: a 96 GB heap reproduces GC-mode
# rep outliers that 40 GB does not). Every main builds its session through
# graft.GraftSession, so SPARK_GRAFT_CPUS is the one session knob; the
# per-query steady-state timer is `graft.BenchReps <out> <reps> <query>`.
# Usage: tools/run_java.sh <mainClass> [args...]
set -euo pipefail
MEM="${SPARK_DRIVER_MEM:-40g}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_CLASSES overrides the classes dir (campaigns run from a frozen
# snapshot so a concurrent compile can't mix class versions mid-JVM).
CLASSES="${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$@"
