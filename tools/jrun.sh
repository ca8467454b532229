#!/bin/bash
# Direct-JVM runner for graft mains (probe/stress tooling): skips sbt
# startup + its project lock so probes can run beside an sbt Verify.
# Usage: JMEM=24g tools/jrun.sh graft.ScaleData <args...>
set -euo pipefail
# Classes of the checkout this script lives in; the caller's working
# directory is kept, so relative arguments resolve as typed.
CLS="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${JMEM:-8g}" ${JFLAGS:-} \
  -cp "$CLS:/opt/spark/jars/*" "$@"
