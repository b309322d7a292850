#!/bin/bash
# Reference-shape benchmark #2: the Divvy trip corpus (2,258,961 rows
# / ~450 MB across three monthly CSVs, see
# clojure/tests/bench/divvy.load + Makefile:83-97) loaded through the
# production Runner's ALL-FILENAMES-MATCHING glob path into a LIVE
# PostgreSQL. The reference publishes no wall seconds for this corpus,
# so the median recorded here is the repo's own reference point.
# Prints per-run wall seconds and the median of 3, writing --summary
# JSON artifacts to /tmp/divvy_bench/.
set -e
cd "$(dirname "$0")/.."

RUNS="${RUNS:-3}"
eval "$(bash tools/live_pg.sh | grep '^export')"
PGURI="${GRAFT_LIVE_PG_DEST_URI}"

if [ ! -f /tmp/divvy/202308-divvy-tripdata.csv ]; then
  echo "=== generating corpus ==="
  sbt -batch "runMain graft.tools.DivvyGen /tmp/divvy"
fi

mkdir -p /tmp/divvy_bench
sed "s|{{PGURI}}|$PGURI|g" tools/bench_divvy.load \
  > /tmp/divvy_bench/divvy.load

sbt -batch "package" >/dev/null
JAR="$(ls target/scala-2.13/pgloaderspark_2.13-*.jar | grep -v -- '-tests\.jar$' | head -1)"
CLASSPATH="$JAR:$(sbt -batch --error 'print Runtime/fullClasspath' \
  | sed -n 's/^\* Attributed(\(.*\))$/\1/p' | grep -v 'scala-2.13/classes' \
  | paste -sd: -)"

JVMFLAGS=(
  -Xmx4g
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens=java.base/java.io=ALL-UNNAMED
  --add-opens=java.base/java.net=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED
)

# warm-up run, untimed: primes the page cache over the corpus and
# records/validates the shared AppCDS archive (rebuilt when the jar
# is newer — a stale archive silently disables sharing)
if [ /tmp/graft_bench.jsa -ot "$JAR" ] 2>/dev/null; then rm -f /tmp/graft_bench.jsa; fi
if [ ! -f /tmp/graft_bench.jsa ]; then
  echo "=== warm-up (untimed; records AppCDS archive) ==="
  java "${JVMFLAGS[@]}" -XX:ArchiveClassesAtExit=/tmp/graft_bench.jsa \
    -cp "$CLASSPATH" graft.Runner \
    /tmp/divvy_bench/divvy.load >/dev/null 2>&1 || true
else
  echo "=== warm-up (untimed; page cache) ==="
  java "${JVMFLAGS[@]}" -XX:SharedArchiveFile=/tmp/graft_bench.jsa \
    -cp "$CLASSPATH" graft.Runner \
    /tmp/divvy_bench/divvy.load >/dev/null 2>&1 || true
fi

for n in $(seq 1 "$RUNS"); do
  echo "=== divvy graft run $n/$RUNS ==="
  t0=$(perl -MTime::HiRes=time -e 'printf "%d\n", time()*1000')
  java "${JVMFLAGS[@]}" \
    -XX:SharedArchiveFile=/tmp/graft_bench.jsa \
    -Dderby.stream.error.file=/dev/null \
    -cp "$CLASSPATH" graft.Runner \
    --summary "/tmp/divvy_bench/summary_$n.json" \
    /tmp/divvy_bench/divvy.load
  t1=$(perl -MTime::HiRes=time -e 'printf "%d\n", time()*1000')
  echo "run $n wall: $(( t1 - t0 )) ms"
done

echo "=== summaries ==="
ls -la /tmp/divvy_bench/
