#!/usr/bin/env python3
"""One benchmark for graft.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload csv_load|pg_migrate|pipeline_suite \
        --seed N --seconds S --trace 0|1

Builds graft and the benchmark harness from the checkout's sources on
first use (everything lands under $CARGO_TARGET_DIR, default
.bench_build), makes the workload's inputs from the seed, drives the
production entry points from outside, checks every output, and prints
one JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced run. See perfbench/README.md.
"""
import argparse
import atexit
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import pg  # noqa: E402
import stats  # noqa: E402
import suite  # noqa: E402

# share of EmployeesGen's 3,919,015-row corpus each load run moves
SCALE = 0.1
# zero-row CLI runs per load run; their median is setup_s
SETUP_REPEATS = 2
# a load run makes CLI runs until --seconds has passed, and at least this
# many; wall_s is their median
MIN_INVOCATIONS = 2
# no run may take longer than this; the loops stop early to stay inside
RUN_BUDGET_S = 165
CLI_TIMEOUT_S = 150
LOAD_HEAP = "4g"
# the suite JVM starts at its full heap, so its peak RSS follows the
# pages the queries touch rather than heap-resizing decisions
SUITE_HEAP = "3g"

JVM_OPENS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

WORKLOADS = ("csv_load", "pg_migrate", "pipeline_suite")
# the metric names and units are BENCHMARK.json's
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _DECL = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _DECL["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _DECL["per_layer"]}


class SetupError(Exception):
    pass


# ---------------------------------------------------------------- processes

_children = set()
_clusters = []


def _cleanup():
    for p in list(_children):
        try:
            os.killpg(p.pid, signal.SIGKILL)
            os.waitpid(p.pid, 0)
        except (OSError, ChildProcessError):
            pass
        _children.discard(p)
    for c in _clusters:
        c.stop()


def _on_signal(signum, frame):
    raise SystemExit(128 + signum)


class Child:
    """A finished child process: exit code, wall seconds from spawn to
    exit, epoch of the spawn, and its rusage."""

    def __init__(self, code, wall, spawned, ru):
        self.code, self.wall, self.spawned = code, wall, spawned
        self.maxrss_mb = ru.ru_maxrss / 1024.0
        self.cpu_s = ru.ru_utime + ru.ru_stime


def run_child(cmd, cwd, env, log, timeout=CLI_TIMEOUT_S):
    with open(log, "ab") as out:
        spawned = time.time()
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             start_new_session=True)
    _children.add(p)
    timer = threading.Timer(timeout, lambda: os.killpg(p.pid, signal.SIGKILL))
    timer.start()
    try:
        _, status, ru = os.wait4(p.pid, 0)
        wall = time.perf_counter() - t0
    finally:
        timer.cancel()
        _children.discard(p)
    p.returncode = os.waitstatus_to_exitcode(status)
    return Child(p.returncode, wall, spawned, ru)


# --------------------------------------------------------------------- build

def _stamp(root):
    """Digest of every source the build reads."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src/main",
                 "perfbench/harness/build.sbt",
                 "perfbench/harness/project/build.properties",
                 "perfbench/harness/src"):
        top = os.path.join(root, base)
        paths = [top] if os.path.isfile(top) else []
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class Build:
    def __init__(self, root, work):
        self.root, self.dir = root, os.path.join(work, "build")
        self.stamp_file = os.path.join(self.dir, "stamp")
        self.cli_cp = os.path.join(self.dir, "cli.classpath")
        self.harness_cp = os.path.join(self.dir, "harness.classpath")
        self.cli_jsa = os.path.join(self.dir, "cli.jsa")
        self.suite_jsa = os.path.join(self.dir, "suite.jsa")
        self.oracle_sql = os.path.join(self.dir, "oracle_sql.json")
        self.oracle_counts = os.path.join(self.dir, "oracle_counts.json")
        self.info = os.path.join(self.dir, "info.json")

    def classpath(self, harness):
        with open(self.harness_cp if harness else self.cli_cp) as f:
            return f.read().strip()

    def ensure(self, ctx):
        for p in ("build.sbt", "src/main/scala/graft/Runner.scala"):
            if not os.path.exists(os.path.join(self.root, p)):
                raise SetupError("no graft sources in %s (missing %s)"
                                 % (self.root, p))
        stamp = _stamp(self.root)
        if (os.path.exists(self.stamp_file)
                and open(self.stamp_file).read() == stamp
                and all(os.path.exists(p) for p in
                        self.classpath(True).split(os.pathsep))):
            return
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", (
            "-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=%s/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g") % os.path.expanduser("~"))
        harness = os.path.join(HERE, "harness")
        log = os.path.join(self.dir, "sbt.log")
        r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "benchClasspath"], harness, env, log, timeout=700)
        if r.code != 0:
            raise SetupError("sbt build failed, see %s" % log)
        for name in ("cli.classpath", "harness.classpath"):
            shutil.copy(os.path.join(harness, "target", name), self.dir)
        r = run_child(java(ctx, self.classpath(True), "perfbench.Suite",
                           ["--dump-oracle", self.oracle_sql]),
                      ctx.run_dir, ctx.env(), log)
        if r.code != 0:
            raise SetupError("oracle dump failed, see %s" % log)
        suite.cached_oracle_counts(ctx.data_dir, self.oracle_sql,
                                   self.oracle_counts)
        self._train_archives(ctx, log)
        ver = subprocess.run(["java", "-version"], capture_output=True,
                             text=True).stderr.splitlines()
        spark = [os.path.basename(p) for p in
                 self.classpath(False).split(":") if "spark-core_" in p]
        with open(self.info, "w") as f:
            json.dump({"jdk": ver[0] if ver else "", "spark_jar":
                       spark[0] if spark else "", "source_digest": stamp}, f)
        with open(self.stamp_file, "w") as f:
            f.write(stamp)

    def _train_archives(self, ctx, log):
        """Class-data-sharing archives, recorded once per build, as
        tools/bench_employees.sh records one: the CLI's from a zero-row
        csv_load, the suite's from the warmup set."""
        cluster = start_cluster(ctx, "pg-train")
        try:
            empty = os.path.join(ctx.run_dir, "train-empty")
            gen.write_empty(empty)
            cluster.psql("postgres", "CREATE DATABASE train")
            cmd_file = render(ctx, "employees.load", "train.load", {
                "DIR": empty, "PGURI": cluster.uri("train"),
                "WORKERS": str(ctx.half)})
            run_child(java(ctx, self.classpath(False), "graft.Runner",
                           [cmd_file], heap=LOAD_HEAP, train=self.cli_jsa),
                      ctx.run_dir, ctx.env(), log)
        finally:
            cluster.stop()
            _clusters.remove(cluster)
        run_child(java(ctx, self.classpath(True), "perfbench.Suite",
                       suite_args(ctx, [], os.path.join(ctx.run_dir, "t.json"),
                                  trace=False),
                       heap=SUITE_HEAP, fixed_heap=True,
                       train=self.suite_jsa),
                  ctx.run_dir, ctx.env(cpus=ctx.nproc), log)


def java(ctx, cp, main, args, heap="2g", jsa=None, train=None,
         fixed_heap=False):
    cmd = ["java", "-Xmx" + heap] + (["-Xms" + heap] if fixed_heap else [])
    cmd += JVM_OPENS + [
        "-XX:-UsePerfData", "-Djava.io.tmpdir=" + ctx.tmp,
        "-Dderby.stream.error.file=/dev/null"]
    if train:
        cmd.append("-XX:ArchiveClassesAtExit=" + train)
    elif jsa and os.path.exists(jsa):
        cmd.append("-XX:SharedArchiveFile=" + jsa)
    return cmd + ["-cp", cp, main] + args


# ----------------------------------------------------------------- context

class Ctx:
    def __init__(self, a):
        self.root = os.getcwd()
        self.workload, self.seed = a.workload, a.seed
        self.seconds, self.trace = a.seconds, a.trace == 1
        self.work = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                    or ".bench_build")
        self.run_dir = os.path.join(self.work, "runs", "%s-s%d-t%d-%d" % (
            a.workload, a.seed, a.trace, os.getpid()))
        self.tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.nproc = len(os.sched_getaffinity(0))
        self.half = max(1, self.nproc // 2)
        self.data_dir = os.path.join(HERE, "data", "sf0.001")
        self.build = Build(self.root, self.work)

    def env(self, cpus=None):
        cpus = cpus or self.half
        e = dict(os.environ)
        e.pop("GRAFT_REJECT_ROOT", None)
        e.update(SPARK_MASTER="local[%d]" % cpus,
                 SPARK_GRAFT_CPUS=str(cpus),
                 SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "spark-local"),
                 SPARK_GRAFT_SCRATCH=os.path.join(self.run_dir, "qtmp"))
        return e

    def path(self, *p):
        return os.path.join(self.run_dir, *p)

    def time_left(self):
        return RUN_BUDGET_S - (time.perf_counter() - self.started)


def start_cluster(ctx, name):
    c = pg.Cluster(ctx.work, "%s-%d" % (name, os.getpid()))
    _clusters.append(c)
    c.start(pg.ensure_template(ctx.work))
    return c


def render(ctx, template, name, subs):
    with open(os.path.join(HERE, "loads", template)) as f:
        text = f.read()
    for k, v in subs.items():
        text = text.replace("{{%s}}" % k, v)
    out = ctx.path(name)
    with open(out, "w") as f:
        f.write(text)
    return out


def suite_args(ctx, order, out, trace):
    return ["--data", ctx.data_dir, "--scratch", ctx.path("spark-local"),
            "--cpus", str(ctx.nproc), "--order", ",".join(order),
            "--warmups", ",".join(suite.WARMUPS),
            "--trace", "1" if trace else "0", "--out", out]


# -------------------------------------------------------------------- loads

HASH_SQL = ("SELECT '%(t)s', count(*) || ':' || coalesce(sum("
            "hashtextextended(t::text, 0)::numeric), 0) FROM %(s)s.%(t)s t")
CONS_SQL = ("SELECT r.relname, c.contype, count(*) FROM pg_constraint c "
            "JOIN pg_class r ON r.oid = c.conrelid JOIN pg_namespace n "
            "ON n.oid = r.relnamespace WHERE n.nspname = 'public' AND "
            "c.contype IN ('p', 'f') GROUP BY 1, 2")
EXPECTED_FKS = {"departments": 0, "employees": 0, "dept_manager": 2,
                "dept_emp": 2, "titles": 1, "salaries": 1}


def digests(cluster, db, schema):
    """Row count and order-independent content hash of each table."""
    sql = " UNION ALL ".join(HASH_SQL % {"t": t, "s": schema}
                             for t in gen.TABLES)
    return dict(r.split("|", 1) for r in cluster.psql(db, sql))


def constraints_ok(cluster, db):
    got = {}
    for r in cluster.psql(db, CONS_SQL):
        t, kind, n = r.split("|")
        got[(t, kind)] = int(n)
    return {t: got.get((t, "p"), 0) == 1 and got.get((t, "f"), 0) == fks
            for t, fks in EXPECTED_FKS.items()}


def copy_script(ctx, schema, corpus, name):
    lines = ["\\copy %s.%s FROM '%s' WITH (FORMAT csv)"
             % (schema, t, os.path.join(corpus, f))
             for t, files in gen.CSV_FILES.items() for f in files]
    path = ctx.path(name)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


def copy_text_fields(line):
    """Fields of one COPY TEXT line; \\N is NULL."""
    out = []
    for raw in line.rstrip("\n").split("\t"):
        if raw == "\\N":
            out.append(None)
            continue
        s, i = [], 0
        while i < len(raw):
            c = raw[i]
            if c == "\\" and i + 1 < len(raw):
                n = raw[i + 1]
                s.append({"t": "\t", "n": "\n", "r": "\r", "b": "\b",
                          "f": "\f", "v": "\v"}.get(n, n))
                i += 2
            else:
                s.append(c)
                i += 1
        out.append("".join(s))
    return out


def reject_rows(rej_root, table):
    """Rows under <root-dir>/<table>.dat: the sink's COPY TEXT parts and
    the parse-reject pass's raw CSV lines."""
    import csv
    d = os.path.join(rej_root, table + ".dat")
    rows = []
    if not os.path.isdir(d):
        return rows
    for name in sorted(os.listdir(d)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(d, name), encoding="utf-8") as f:
            if name.endswith(".dat"):
                rows += [copy_text_fields(x) for x in f if x.strip()]
            else:
                rows += [r for r in csv.reader(f) if r]
    return rows


class Load:
    """One load workload's fixtures: private cluster, seeded corpus, the
    PG-native reference, and the command files."""

    def __init__(self, ctx, kind):
        self.ctx, self.kind = ctx, kind
        c = self.cluster = start_cluster(ctx, "pg")
        corpus = ctx.path("corpus")
        self.manifest = gen.generate(corpus, ctx.seed, SCALE)
        clean, empty = ctx.path("clean"), ctx.path("empty")
        gen.write_clean(corpus, clean, self.manifest)
        gen.write_empty(empty)
        self.good_rows = sum(self.manifest["counts"].values())
        schema = os.path.join(HERE, "loads", "schema.sql")
        fks = os.path.join(HERE, "loads", "fks.sql")
        self.rej = ctx.path("rejects")
        if kind == "csv":
            for db in ("tgt", "tgt0"):
                c.psql("postgres", "CREATE DATABASE " + db)
            c.psql("tgt", "CREATE SCHEMA ref; SET search_path = ref;\n"
                   + open(schema).read())
            c.psql("tgt", file=copy_script(ctx, "ref", clean, "ref.sql"))
            self.ref = digests(c, "tgt", "ref")
            self.db, self.db0 = "tgt", "tgt0"
            self.cmd = render(ctx, "employees.load", "csv.load", {
                "DIR": corpus, "PGURI": c.uri("tgt"),
                "WORKERS": str(ctx.half)})
            self.cmd0 = render(ctx, "employees.load", "csv0.load", {
                "DIR": empty, "PGURI": c.uri("tgt0"),
                "WORKERS": str(ctx.half)})
            self.expected_rejects = self.manifest["rejects"]
            self.mb_read = sum(os.path.getsize(os.path.join(corpus, f))
                               for fs in gen.CSV_FILES.values() for f in fs)
        else:
            for db in ("src", "src0", "dst", "dst0"):
                c.psql("postgres", "CREATE DATABASE " + db)
            for db in ("src", "src0"):
                c.psql(db, file=schema)
            c.psql("src", file=copy_script(ctx, "public", clean, "src.sql"))
            for db in ("src", "src0"):
                c.psql(db, file=fks)
                c.psql(db, "VACUUM ANALYZE")
            self.ref = digests(c, "src", "public")
            self.db, self.db0 = "dst", "dst0"
            self.cmd = render(ctx, "pg2pg.load", "pg.load", {
                "SRCURI": c.uri("src"), "DSTURI": c.uri("dst"),
                "WORKERS": str(ctx.half)})
            self.cmd0 = render(ctx, "pg2pg.load", "pg0.load", {
                "SRCURI": c.uri("src0"), "DSTURI": c.uri("dst0"),
                "WORKERS": str(ctx.half)})
            self.expected_rejects = []
            self.mb_read = int(c.query1("src", (
                "SELECT sum(pg_relation_size(c.oid)) FROM pg_class c "
                "JOIN pg_namespace n ON n.oid = c.relnamespace "
                "WHERE n.nspname = 'public' AND c.relkind = 'r'")))
        self.mb_read /= 1048576.0
        shutil.rmtree(clean)
        if kind != "csv":
            shutil.rmtree(corpus)

    def cli(self, zero):
        ctx = self.ctx
        args = []
        if self.kind == "csv":
            args = ["--root-dir", self.rej]
        args += ["--summary", ctx.path("summary.json"),
                 self.cmd0 if zero else self.cmd]
        return java(ctx, ctx.build.classpath(False), "graft.Runner", args,
                    heap=LOAD_HEAP, jsa=ctx.build.cli_jsa)

    def invoke(self, zero):
        """CHECKPOINT (untimed), then one CLI run, then its checks.
        Returns (child, number of tables that failed)."""
        ctx = self.ctx
        self.cluster.psql("postgres", "CHECKPOINT")
        shutil.rmtree(self.rej, ignore_errors=True)
        if os.path.exists(ctx.path("summary.json")):
            os.remove(ctx.path("summary.json"))
        child = run_child(self.cli(zero), ctx.run_dir, ctx.env(),
                          ctx.path("cli.log"))
        return child, self.failures(child.code, zero)

    def failures(self, code, zero):
        """Tables of one invocation that failed: graft exits 1 when it
        rejected rows, so 1 is the expected code when rows were
        injected, and any other code fails every table."""
        expected_exit = 1 if (self.expected_rejects and not zero) else 0
        return stats.load_failures(self.check(zero), code, expected_exit)

    def check(self, zero):
        db = self.db0 if zero else self.db
        try:
            got = digests(self.cluster, db, "public")
            cons = constraints_ok(self.cluster, db)
        except subprocess.CalledProcessError:
            return {t: False for t in gen.TABLES}
        ok = {}
        for t in gen.TABLES:
            want = "0:0" if zero else self.ref[t]
            ok[t] = got.get(t) == want and cons[t]
            if self.kind == "csv":
                want_rej = (self.expected_rejects
                            if t == "titles" and not zero else [])
                ok[t] = ok[t] and stats.multiset_equal(
                    reject_rows(self.rej, t), want_rej)
        self.last_rows = sum(int(got.get(t, "0:0").split(":")[0])
                             for t in gen.TABLES)
        return ok

    def close(self):
        self.cluster.stop()


def pg_host(load, before):
    """The server's side of the host-state record."""
    after = load.cluster.stats()
    return {"settings": load.cluster.settings(),
            "delta": {k: after[k] - before[k] for k in before}}


def run_load(ctx, kind):
    load = Load(ctx, kind)
    attempted = failed = 0
    try:
        pg0 = load.cluster.stats()
        setups = []
        for _ in range(SETUP_REPEATS):
            child, bad = load.invoke(zero=True)
            setups.append(child.wall)
            attempted += len(gen.TABLES)
            failed += bad
        walls, rates, rss = [], [], []
        t0 = time.perf_counter()
        while True:
            child, bad = load.invoke(zero=False)
            attempted += len(gen.TABLES)
            failed += bad
            walls.append(child.wall)
            rates.append(load.last_rows / child.wall)
            rss.append(child.maxrss_mb)
            if ((time.perf_counter() - t0 >= ctx.seconds
                 and len(walls) >= MIN_INVOCATIONS)
                    or ctx.time_left() < 2.5 * max(walls)):
                break
        host = pg_host(load, pg0)
    finally:
        load.close()
    metrics = {
        "wall_s": stats.median(walls),
        "rows_per_s": stats.median(rates),
        "setup_s": stats.median(setups),
        "peak_rss_mb": max(rss),
        # a load's operation is one CLI run of the command file
        "query_p50_s": stats.median(walls),
    }
    notes = {"invocations": len(walls), "setup_runs": setups,
             "walls": walls,
             "good_rows": load.good_rows,
             "injected_rejects": len(load.expected_rejects), "pg": host}
    return attempted, failed, metrics, notes


# ---------------------------------------------------------- traced loads

def phase_spans(run, tasks):
    """pre / copy / post phases of a load run, cut at the first COPY task
    start and the last COPY task end."""
    rs, re_ = run["start"], run["end"]
    if not tasks:
        return [dict(id=-1000, parent=run["id"], kind="phase", name="pre",
                     start=rs, end=re_)]
    first = min(t["start"] for t in tasks)
    last = max(t["end"] for t in tasks)
    return [dict(id=-1000 - i, parent=run["id"], kind="phase", name=n,
                 start=s, end=e) for i, (n, s, e) in enumerate(
        (("pre", rs, first), ("copy", first, last), ("post", last, re_)))]


def load_layers(spans, slots):
    """Per-layer metrics from the traced run's spans: run → phase →
    table → task → send, and DDL spans under their phase. A task's self
    time is sinks.upstream_s, a send has no children, and DDL statements
    run one at a time, so the self.* metrics cover the other kinds."""
    sp = [dict(zip(("id", "parent", "kind", "name", "start", "end"), s))
          for s in spans]
    run = next(s for s in sp if s["kind"] == "run")
    tasks = [s for s in sp if s["kind"] == "task"]
    sends = [s for s in sp if s["kind"] == "send"]
    ddls = [s for s in sp if s["kind"] == "ddl"]
    jobs = [s for s in sp if s["kind"] == "job"]
    phases = phase_spans(run, tasks)
    copy = next((p for p in phases if p["name"] == "copy"), None)
    tables = {}
    for t in tasks:
        tb = tables.setdefault(t["name"], dict(
            id=-2000 - len(tables), parent=copy["id"], kind="table",
            name=t["name"], start=t["start"], end=t["end"]))
        tb["start"] = min(tb["start"], t["start"])
        tb["end"] = max(tb["end"], t["end"])
        t["parent"] = tb["id"]
    for d in ddls:
        d["parent"] = next((p["id"] for p in phases
                            if p["start"] <= d["start"] < p["end"]),
                           phases[-1]["id"])
    tree = [run] + phases + list(tables.values()) + tasks + sends + ddls
    self_ns = stats.self_times(tree)
    by_kind = {}
    for s in tree:
        key = s["name"] if s["kind"] == "phase" else s["kind"]
        by_kind[key] = by_kind.get(key, 0) + self_ns[s["id"]]
    sec = 1e9
    wall = (run["end"] - run["start"]) / sec
    send_ms = [(s["end"] - s["start"]) / 1e6 for s in sends] or [0.0]
    task_busy = sum(t["end"] - t["start"] for t in tasks) / sec
    window = (copy["end"] - copy["start"]) / sec if copy else 0.0
    m = {
        "self.pre_s": by_kind.get("pre", 0) / sec,
        "self.copy_s": by_kind.get("copy", 0) / sec,
        "self.post_s": by_kind.get("post", 0) / sec,
        "self.table_s": by_kind.get("table", 0) / sec,
        "sinks.upstream_s": by_kind.get("task", 0) / sec,
        "sinks.send_s": sum(s["end"] - s["start"] for s in sends) / sec,
        "sinks.send_p50_ms": stats.median(send_ms),
        "sinks.send_tail_ms": stats.tail(send_ms),
        "orchestration.first_copy_s":
            (copy["start"] - run["start"]) / sec if copy else wall,
        "orchestration.copy_window_s": window,
        "orchestration.post_tail_s":
            (run["end"] - copy["end"]) / sec if copy else 0.0,
        "orchestration.table_max_s": max(
            [(t["end"] - t["start"]) / sec for t in tables.values()] or [0]),
        "orchestration.slot_busy_ratio":
            task_busy / (window * slots) if window > 0 else 0.0,
        "orchestration.ddl_s": sum(d["end"] - d["start"] for d in ddls) / sec,
        "orchestration.ddl_statements":
            sum(1 for d in ddls if d["name"] != "query"),
        "orchestration.index_s": sum(d["end"] - d["start"] for d in ddls
                                     if d["name"] == "index") / sec,
        "orchestration.fk_s": sum(d["end"] - d["start"] for d in ddls
                                  if d["name"] == "fk") / sec,
        "spark.driver_gap_s": wall - stats.union_ns(
            [c for c in (stats.clip((j["start"], j["end"]), run["start"],
                                    run["end"]) for j in jobs) if c]) / sec,
    }
    return m


LAYER_NAMES = {
    "self.pre_s": "driver work before the first COPY: Spark boot, "
                  "introspection or the CSV parse-reject pass, planning",
    "self.copy_s": "driver work between tables' COPY windows: per-command "
                   "planning, parse-reject pass and index drop",
    "self.post_s": "driver work after the last COPY",
    "self.table_s": "a table's COPY window with no task running",
    "sinks.upstream_s": "COPY tasks outside send: decode, cast, encode",
    "sinks.send_s": "COPY send: wire and server",
    "orchestration.ddl_s": "DDL, index and FK statements",
}


def trace_load(ctx, kind):
    load = Load(ctx, kind)
    attempted = failed = 0
    try:
        pg0 = load.cluster.stats()
        child, bad = load.invoke(zero=False)
        attempted += len(gen.TABLES)
        failed += bad
        untraced = child.wall
        c = load.cluster
        c.psql("postgres", "CHECKPOINT")
        shutil.rmtree(load.rej, ignore_errors=True)
        before = c.stats()
        out = ctx.path("traced.json")
        args = ["--mode", "run", "--load", load.cmd, "--out", out,
                "--target", c.uri(load.db)]
        if kind == "csv":
            args += ["--root-dir", load.rej]
        traced = run_child(java(ctx, ctx.build.classpath(True),
                                "perfbench.TracedLoad", args,
                                heap=LOAD_HEAP, jsa=ctx.build.cli_jsa),
                           ctx.run_dir, ctx.env(), ctx.path("traced.log"))
        after = c.stats()
        attempted += len(gen.TABLES)
        failed += load.failures(traced.code, zero=False)
        with open(out) as f:
            res = json.load(f)
        probe_out = ctx.path("probe.json")
        pargs = ["--mode", "probe", "--load", load.cmd, "--out", probe_out]
        if kind == "pg":
            pargs += ["--source", c.uri("src")]
        r = run_child(java(ctx, ctx.build.classpath(True),
                           "perfbench.TracedLoad", pargs, heap=LOAD_HEAP,
                           jsa=ctx.build.cli_jsa),
                      ctx.run_dir, ctx.env(), ctx.path("probe.log"))
        if r.code != 0:
            raise SetupError("probe run failed, see " + ctx.path("probe.log"))
        with open(probe_out) as f:
            probe = json.load(f)["metrics"]
        host = pg_host(load, pg0)
    finally:
        load.close()
    m = dict(res["metrics"])
    m.update(load_layers(res["spans"], ctx.half))
    m.update(probe)
    m["sources.mb_read"] = load.mb_read
    m["sinks.commit_ratio"] = stats.commit_ratio(
        m["sinks.rows_committed"], m["sinks.rows_transmitted"])
    m.update({
        "pg.cpu_s": after["cpu_s"] - before["cpu_s"],
        "pg.wal_mb": (after["wal_bytes"] - before["wal_bytes"]) / 1048576.0,
        "pg.wal_io_s": (after["wal_io_ms"] - before["wal_io_ms"]) / 1e3,
        "pg.checkpoints": after["checkpoints"] - before["checkpoints"],
        "pg.commits": after["commits"] - before["commits"],
        "client.cpu_s": traced.cpu_s,
        "trace.overhead_s": traced.wall - untraced,
    })
    hot = max(LAYER_NAMES, key=lambda k: m[k])
    notes = {"untraced_wall_s": untraced, "traced_wall_s": traced.wall,
             "pg": host,
             "hottest_layer": "%s = %.3f s of %.3f s traced wall (%s)" % (
                 hot, m[hot], traced.wall, LAYER_NAMES[hot])}
    return attempted, failed, m, notes


# --------------------------------------------------------------- the suite

def suite_run(ctx, order, trace, tag):
    out = ctx.path("suite-%s.json" % tag)
    child = run_child(java(ctx, ctx.build.classpath(True), "perfbench.Suite",
                           suite_args(ctx, order, out, trace),
                           heap=SUITE_HEAP, fixed_heap=True,
                           jsa=ctx.build.suite_jsa),
                      ctx.run_dir, ctx.env(cpus=ctx.nproc),
                      ctx.path("suite-%s.log" % tag))
    if child.code != 0 or not os.path.exists(out):
        raise SetupError("suite run failed, see " +
                         ctx.path("suite-%s.log" % tag))
    with open(out) as f:
        d = json.load(f)
    d["child"] = child
    return d


def suite_summary(ctx, d):
    with open(ctx.build.oracle_counts) as f:
        oracle = json.load(f)
    res = d["results"]
    secs = [r[1] for r in res]
    bad = stats.oracle_mismatches(
        {name: None if err else count for name, _, count, err in res}, oracle)
    return {
        "wall_s": sum(secs),
        "rows_per_s": sum(max(0, r[2]) for r in res) / sum(secs),
        "setup_s": d["ready_ms"] / 1e3 - d["child"].spawned,
        "peak_rss_mb": d["child"].maxrss_mb,
        "query_p50_s": stats.median(secs),
    }, len(res), len(bad), {
        "failed_queries": bad,
        "jvm_and_session_s": d["session_ms"] / 1e3 - d["child"].spawned,
        "warmup_s": (d["ready_ms"] - d["session_ms"]) / 1e3}


def run_suite(ctx):
    order = list(suite.SUBSET)
    random.Random(ctx.seed).shuffle(order)
    d = suite_run(ctx, order, False, "run")
    metrics, attempted, failed, notes = suite_summary(ctx, d)
    notes["order"] = order
    return attempted, failed, metrics, notes


def trace_suite(ctx):
    order = list(suite.SUBSET)
    random.Random(ctx.seed).shuffle(order)
    plain = suite_run(ctx, order, False, "plain")
    pm, attempted, failed, _ = suite_summary(ctx, plain)
    d = suite_run(ctx, order, True, "traced")
    tm, a2, f2, _ = suite_summary(ctx, d)
    m = dict(d["metrics"])
    sp = [dict(zip(("id", "parent", "kind", "name", "start", "end"), s))
          for s in d["spans"]]
    jobs = [(s["start"], s["end"]) for s in sp if s["kind"] == "job"]
    # Σ over the timed queries of their wall minus the union of the
    # Spark jobs inside them
    m["spark.driver_gap_s"] = sum(
        q["end"] - q["start"] - stats.union_ns(
            [c for c in (stats.clip(j, q["start"], q["end"]) for j in jobs)
             if c])
        for q in sp if q["kind"] == "query") / 1e9
    fam = {f: 0.0 for f in suite.FAMILY_NAMES}
    for name, secs, _, _ in d["results"]:
        fam[suite.family(name)] += secs
    m.update({"pipeline.%s_s" % f: v for f, v in fam.items()})
    m["client.cpu_s"] = d["child"].cpu_s
    m["trace.overhead_s"] = tm["wall_s"] - pm["wall_s"]
    return attempted + a2, failed + f2, m, {
        "untraced_wall_s": pm["wall_s"], "traced_wall_s": tm["wall_s"]}


# ---------------------------------------------------------------- host state

def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_record(ctx, before, after):
    mem = next((l.split()[1] for l in open("/proc/meminfo")
                if l.startswith("MemTotal:")), "0")
    info = {}
    if os.path.exists(ctx.build.info):
        with open(ctx.build.info) as f:
            info = json.load(f)
    commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ctx.root,
                            capture_output=True, text=True)
    return {"workload": ctx.workload, "seed": ctx.seed, "trace": ctx.trace,
            "loadavg_before": before, "loadavg_after": after,
            "nproc": ctx.nproc,
            "mem_total_kb": int(mem),
            "commit": commit.stdout.strip() if commit.returncode == 0
            else None, **info}


# ---------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    atexit.register(_cleanup)
    ctx = Ctx(a)
    try:
        ctx.build.ensure(ctx)
        ctx.started = time.perf_counter()
        before = loadavg()
        if a.workload == "pipeline_suite":
            fn = trace_suite if ctx.trace else run_suite
            attempted, failed, metrics, notes = fn(ctx)
        else:
            kind = "csv" if a.workload == "csv_load" else "pg"
            fn = trace_load if ctx.trace else run_load
            attempted, failed, metrics, notes = fn(ctx, kind)
        after = loadavg()
    except (SetupError, subprocess.CalledProcessError, OSError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    notes["failed_ratio"] = stats.failed_ratio(failed, attempted)
    host = host_record(ctx, before, after)
    with open(ctx.path("host.json"), "w") as f:
        json.dump({"host": host, "notes": notes}, f, indent=1)
    names = PER_LAYER if ctx.trace else END_TO_END
    out = {n: {"value": float(metrics.get(n, 0.0)), "unit": u}
           for n, u in names.items()}
    for k in ("corpus", "clean", "empty", "spark-local", "qtmp", "tmp",
              "rejects"):
        shutil.rmtree(ctx.path(k), ignore_errors=True)
    print("host-state: " + json.dumps(host, sort_keys=True))
    print("notes: " + json.dumps(notes, sort_keys=True))
    if "hottest_layer" in notes:
        print("hottest layer by self time: " + notes["hottest_layer"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
