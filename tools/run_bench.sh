#!/bin/bash
# Run graft.Bench in a bare JVM with the SAME flags sbt's forked `run`
# uses (build.sbt javaOptions: JDK-17 module opens, UI off, UTC, -Xmx8g)
# so timings are comparable to the driver's `sbt "runMain graft.Bench"`
# without paying sbt startup per iteration. Classpath comes from
# `sbt "export Runtime/fullClasspath"` cached in /tmp/graft_cp.txt.
#
# Usage: tools/run_bench.sh <medians_file> [extra env via environment]
# The side file goes to <medians_file>, never the committed
# BENCH_MEDIANS.json.
set -eu
if [ $# -lt 1 ] || [ -z "$1" ]; then
  echo "usage: tools/run_bench.sh <medians_file> [extra env via environment]" >&2
  exit 2
fi
export SPARK_GRAFT_MEDIANS_FILE="$1"
CP_FILE=${GRAFT_CP_FILE:-/tmp/graft_cp.txt}
if [ ! -s "$CP_FILE" ]; then
  sbt -batch "export Runtime/fullClasspath" 2>/dev/null \
    | grep -E "^/" | tail -1 > "$CP_FILE"
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$(cat "$CP_FILE")" graft.Bench
