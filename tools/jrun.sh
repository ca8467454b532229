#!/bin/bash
# Direct-JVM runner for graft mains (probe/stress tooling): skips sbt
# startup + its project lock so probes can run beside an sbt Verify.
# Usage: JMEM=24g tools/jrun.sh graft.ScaleData <args...>
set -euo pipefail
# Classes of the checkout this script lives in; the caller's working
# directory is kept, so relative arguments resolve as typed.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLS="$ROOT/target/scala-2.13/classes"
# Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt
# compiles against.
if [ -n "${SPARK_HOME:-}" ]; then
  JARS="$SPARK_HOME/jars"
else
  JARS="$(sed -n 's/^unmanagedBase *:= *file("\([^"]*\)").*/\1/p' "$ROOT/build.sbt")"
  [ -n "$JARS" ] || { echo "set SPARK_HOME: build.sbt names no unmanagedBase" >&2; exit 1; }
fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${JMEM:-8g}" ${JFLAGS:-} \
  -cp "$CLS:$JARS/*" "$@"
