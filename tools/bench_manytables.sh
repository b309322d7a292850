#!/bin/bash
# Table-count scaling measurement (round-19 task 3): migrate an
# N-table fixture database (default 500 tiny tables — the reference's
# ORM-scale story, migrate-database.lisp:480-574 runs against hundreds
# of tables) whole through the production Runner, and report process
# wall, per-table data p50/max, and the number of server connections
# dialed during the run (log_connections toggled around it).
# Usage: [N=500] [RUNS=3] tools/bench_manytables.sh
set -e
cd "$(dirname "$0")/.."

N="${N:-500}"
RUNS="${RUNS:-3}"
PORT=54329
eval "$(bash tools/live_pg.sh | grep '^export')"
BASE="postgresql://graft@127.0.0.1:$PORT"
PSQL="su pguser -c"

for db in manysrc manydst; do
  $PSQL "psql -h 127.0.0.1 -p $PORT -U graft -d postgres -tc \
    \"SELECT 1 FROM pg_database WHERE datname='$db'\"" | grep -q 1 || \
    $PSQL "createdb -h 127.0.0.1 -p $PORT -U graft $db"
done
HAVE=$($PSQL "psql -h 127.0.0.1 -p $PORT -U graft -d manysrc -tc \
  \"SELECT count(*) FROM pg_tables WHERE schemaname='public'\"" | tr -d ' ')
if [ "$HAVE" != "$N" ]; then
  SQL=/tmp/manysrc_seed.sql
  {
    echo "DROP SCHEMA public CASCADE; CREATE SCHEMA public;"
    for i in $(seq 1 "$N"); do
      echo "CREATE TABLE t$i (id int PRIMARY KEY, name text NOT NULL, val numeric(10,2), ts timestamptz DEFAULT now());"
      echo "INSERT INTO t$i SELECT g, 'row_'||g, g*1.5, now() FROM generate_series(1,20) g;"
      echo "CREATE INDEX t${i}_name_idx ON t$i(name);"
      if [ $((i % 10)) -eq 0 ] && [ "$i" -gt 1 ]; then
        echo "ALTER TABLE t$i ADD COLUMN ref int REFERENCES t$((i-1))(id);"
        echo "UPDATE t$i SET ref = id;"
      fi
    done
    echo "VACUUM ANALYZE;"
  } > "$SQL"
  $PSQL "psql -h 127.0.0.1 -p $PORT -U graft -d manysrc -q -f $SQL"
  echo "seeded $N tables"
else
  echo "manysrc already has $N tables"
fi

mkdir -p /tmp/manytables_bench
cat > /tmp/manytables_bench/many.load <<EOF
LOAD DATABASE FROM $BASE/manysrc
     INTO $BASE/manydst
     WITH include drop, create tables, workers = 8;
EOF

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

# count every dial during the timed window via log_connections
# (ALTER SYSTEM cannot share a transaction with the reload)
$PSQL "psql -h 127.0.0.1 -p $PORT -U graft -d postgres -c \
  \"ALTER SYSTEM SET log_connections = on\" -c \
  \"SELECT pg_reload_conf()\"" >/dev/null

for n in $(seq 1 "$RUNS"); do
  echo "=== manytables N=$N run $n/$RUNS ==="
  LOG_BEFORE=$(wc -l < /tmp/pg.log)
  t0=$(perl -MTime::HiRes=time -e 'printf "%d\n", time()*1000')
  java "${JVMFLAGS[@]}" -Dderby.stream.error.file=/dev/null \
    -cp "$CLASSPATH" graft.Runner \
    --summary "/tmp/manytables_bench/summary_$n.json" \
    /tmp/manytables_bench/many.load
  t1=$(perl -MTime::HiRes=time -e 'printf "%d\n", time()*1000')
  DIALS=$(tail -n +"$((LOG_BEFORE + 1))" /tmp/pg.log | \
    grep -c "connection authorized" || true)
  echo "run $n wall: $(( t1 - t0 )) ms, dials: $DIALS"
done

$PSQL "psql -h 127.0.0.1 -p $PORT -U graft -d postgres -c \
  \"ALTER SYSTEM SET log_connections = off\" -c \
  \"SELECT pg_reload_conf()\"" >/dev/null

echo "=== per-table data-phase percentiles (last run) ==="
python3 - <<EOF
import json
s = json.load(open("/tmp/manytables_bench/summary_$RUNS.json"))
ts = [t["total-time"]/1e6 for t in s["phases"]["data"]["tables"]]
ts.sort()
print(f"tables={len(ts)} p50={ts[len(ts)//2]:.0f}ms "
      f"p95={ts[int(len(ts)*0.95)]:.0f}ms max={ts[-1]:.0f}ms")
EOF
