#!/bin/bash
# Reference-scale pg->pg benchmark: the employees corpus (3,919,015
# rows) migrated database->database between two live PostgreSQL
# databases through the production Runner (introspection + ctid wire
# reads + COPY sink + PK/FK rebuild). Prints per-run wall seconds and
# the median of 3; --summary JSONs land in /tmp/pg2pg_bench/.
set -e
cd "$(dirname "$0")/.."

RUNS="${RUNS:-3}"
PORT=54329
eval "$(bash tools/live_pg.sh | grep '^export')"
BASE="postgresql://graft@127.0.0.1:$PORT"

PSQL="su pguser -c"
$PSQL "psql -h 127.0.0.1 -p $PORT -U graft -d postgres -tc \
  \"SELECT 1 FROM pg_database WHERE datname='empsrc'\"" | grep -q 1 || \
  $PSQL "createdb -h 127.0.0.1 -p $PORT -U graft empsrc"
$PSQL "psql -h 127.0.0.1 -p $PORT -U graft -d postgres -tc \
  \"SELECT 1 FROM pg_database WHERE datname='empdst'\"" | grep -q 1 || \
  $PSQL "createdb -h 127.0.0.1 -p $PORT -U graft empdst"

if [ ! -f /tmp/employees/salaries4.csv ]; then
  echo "=== generating corpus ==="
  sbt -batch "runMain graft.tools.EmployeesGen /tmp/employees"
fi

mkdir -p /tmp/pg2pg_bench
sed -e "s|{{PGURI}}|$BASE/empsrc|g" -e "s|{{EXTRAOPTS}}||g" \
  tools/bench_employees.load > /tmp/pg2pg_bench/seed.load
# EXTRA_WITH adds WITH options to the migration (e.g.
# EXTRA_WITH=", exactly once" to time the staged publish)
sed -e "s|{{SRCURI}}|$BASE/empsrc|g" -e "s|{{DSTURI}}|$BASE/empdst|g" \
  -e "s|{{EXTRAOPTS}}|${EXTRA_WITH:-}|g" \
  tools/bench_pg2pg.load > /tmp/pg2pg_bench/pg2pg.load

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

# seed the SOURCE database once (untimed): the CSV bench .load builds
# the employees schema + rows + PKs/FKs in empsrc
ROWS=$($PSQL "psql -h 127.0.0.1 -p $PORT -U graft -d empsrc -tc \
  'SELECT count(*) FROM salaries'" 2>/dev/null | tr -d ' ' || echo 0)
if [ "${ROWS:-0}" != "2844047" ]; then
  echo "=== seeding empsrc (untimed) ==="
  java "${JVMFLAGS[@]}" -Dderby.stream.error.file=/dev/null \
    -cp "$CLASSPATH" graft.Runner /tmp/pg2pg_bench/seed.load
fi

if [ /tmp/graft_bench.jsa -ot "$JAR" ] 2>/dev/null; then rm -f /tmp/graft_bench.jsa; fi
if [ ! -f /tmp/graft_bench.jsa ]; then
  echo "=== warm-up (untimed; records AppCDS archive) ==="
  java "${JVMFLAGS[@]}" -XX:ArchiveClassesAtExit=/tmp/graft_bench.jsa \
    -cp "$CLASSPATH" graft.Runner \
    /tmp/pg2pg_bench/pg2pg.load >/dev/null 2>&1 || true
fi

for n in $(seq 1 "$RUNS"); do
  echo "=== pg2pg graft run $n/$RUNS ==="
  t0=$(perl -MTime::HiRes=time -e 'printf "%d\n", time()*1000')
  java "${JVMFLAGS[@]}" \
    -XX:SharedArchiveFile=/tmp/graft_bench.jsa \
    -Dderby.stream.error.file=/dev/null \
    ${JFR:+-XX:StartFlightRecording=filename=/tmp/pg2pg_bench/run$n.jfr,settings=profile} \
    -cp "$CLASSPATH" graft.Runner \
    --summary "/tmp/pg2pg_bench/summary_$n.json" \
    /tmp/pg2pg_bench/pg2pg.load
  t1=$(perl -MTime::HiRes=time -e 'printf "%d\n", time()*1000')
  echo "run $n wall: $(( t1 - t0 )) ms"
done

echo "=== summaries ==="
ls -la /tmp/pg2pg_bench/
