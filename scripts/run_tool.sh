#!/usr/bin/env bash
# Run a graft main directly on the compiled classpath — no sbt lock, so
# measurement tools (Bench, Verify, graft.tools.Probe, StreamSoak,
# ScaleUp) can run while sbt test holds the build. Mirrors build.sbt's
# forked-JVM options (JDK17 add-opens, UTC, SPARK_DRIVER_MEM).
#
# Usage: scripts/run_tool.sh graft.Bench [args...]
#        scripts/run_tool.sh graft.tools.Probe time <sfDir> <query...>
# Env:   SPARK_DRIVER_MEM (default 8g), plus whatever the tool reads.
#        SPARK_GRAFT_CPUS sets the local cores of every tool's session;
#        its one default is every core (Runtime.availableProcessors).
#        GRAFT_TEST_CP=1 prepends test-classes for test-scope tools
#        (MultimodalBench and friends — plain objects, no scalatest
#        classes load, so the scalatest jars aren't needed).
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "${GRAFT_TEST_CP:+target/scala-2.13/test-classes:}target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
