#!/usr/bin/env bash
# Run graft.Bench with plain java (no sbt server lock) against the compiled
# classes. Usage: tools/bench.sh [sf-dir] [cpus] [query ...]
# With query names only those are timed; with none, the whole benched surface.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.1}"
CPUS="${2:-$(nproc)}"
shift $(( $# < 2 ? $# : 2 ))
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dlog4j2.configurationFile=conf/log4j2.properties \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench "$@"
