#!/bin/bash
# Run graft.tools.ProfileOne java-direct (no sbt lock) against compiled
# classes. Usage:
#   tools/profile_one.sh <gate> [sfDir] [reps]
# Env passthrough: SPARK_GRAFT_CPUS (default 32, as Bench), GRAFT_PROFILE_CONF,
# GRAFT_PROFILE_CLEAR_MEMOS, PROFILE_MEM.
set -u
GATE="${1:?gate name}"
SF="${2:-/root/testdata/sf0.1}"
REPS="${3:-4}"
MEM="${PROFILE_MEM:-48g}"
CLASSES="/root/repo/target/scala-2.13/classes"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"$MEM" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  graft.tools.ProfileOne "$GATE" "$SF" "$REPS"
