"""A private PostgreSQL cluster inside the checkout, one per run.

The server refuses to run as root, and the checkout may sit under a
directory other users cannot enter, so when the benchmark runs as root
the server runs inside a user namespace: it sees itself as an ordinary
user while its files stay owned by the caller.
"""
import os
import shutil
import socket
import subprocess

# tools/live_pg.sh's server settings: WAL sized for back-to-back bulk
# loads, and WAL I/O timing on so pg_stat_wal attributes write time
SETTINGS = {
    "max_wal_size": "6GB",
    "checkpoint_timeout": "15min",
    "track_wal_io_timing": "on",
    "listen_addresses": "127.0.0.1",
    "unix_socket_directories": "''",
}
USER = "graft"


def _as_server_user(cmd):
    if os.geteuid() != 0:
        return cmd
    return ["unshare", "--user", "--map-user=1001", "--map-group=1001"] + cmd


def _free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def ensure_template(work):
    """initdb once per checkout; each run copies the template."""
    tmpl = os.path.join(work, "pg-template")
    if not os.path.exists(os.path.join(tmpl, "PG_VERSION")):
        shutil.rmtree(tmpl, ignore_errors=True)
        subprocess.run(_as_server_user(
            ["initdb", "-D", tmpl, "-U", USER, "--auth=trust",
             "--encoding=UTF8", "--locale=C", "--no-sync"]),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return tmpl


class Cluster:
    def __init__(self, work, name):
        self.dir = os.path.join(work, name)
        self.data = os.path.join(self.dir, "data")
        self.log = os.path.join(self.dir, "server.log")
        self.port = None
        self.running = False

    def start(self, template):
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        shutil.copytree(template, self.data, symlinks=True)
        os.chmod(self.data, 0o700)
        self.port = _free_port()
        opts = "-p %d " % self.port + " ".join(
            "-c %s=%s" % kv for kv in SETTINGS.items())
        subprocess.run(_as_server_user(
            ["pg_ctl", "-D", self.data, "-l", self.log, "-w", "-t", "60",
             "-o", opts, "start"]),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        self.running = True

    def stop(self):
        if self.running:
            subprocess.run(_as_server_user(
                ["pg_ctl", "-D", self.data, "-m", "fast", "-w", "-t", "60",
                 "stop"]),
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            self.running = False
        shutil.rmtree(self.dir, ignore_errors=True)

    def uri(self, db):
        return "postgresql://%s@127.0.0.1:%d/%s" % (USER, self.port, db)

    def psql(self, db, sql=None, file=None):
        """Run SQL; returns stdout lines (unaligned, tuples only)."""
        cmd = ["psql", "-X", "-q", "-At", "-v", "ON_ERROR_STOP=1",
               "-h", "127.0.0.1", "-p", str(self.port), "-U", USER,
               "-d", db]
        if sql is not None:
            cmd += ["-c", sql]
        if file is not None:
            cmd += ["-f", file]
        out = subprocess.run(cmd, check=True, capture_output=True,
                             text=True)
        return [x for x in out.stdout.splitlines() if x]

    def query1(self, db, sql):
        rows = self.psql(db, sql)
        return rows[0] if rows else ""

    def server_cpu_s(self):
        """utime+stime of the postmaster, of its reaped children, and of
        its live children, in seconds."""
        with open(os.path.join(self.data, "postmaster.pid")) as f:
            pm = int(f.readline())
        tick = os.sysconf("SC_CLK_TCK")

        def fields(pid):
            with open("/proc/%d/stat" % pid) as f:
                s = f.read()
            return s[s.rindex(")") + 2:].split()

        total = sum(int(x) for x in fields(pm)[11:15])
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == pm:
                continue
            try:
                f = fields(int(pid))
            except OSError:
                continue
            if int(f[1]) == pm:
                total += int(f[11]) + int(f[12])
        return total / tick

    def stats(self):
        """Server-wide counters for the host-state record and pg.*."""
        row = self.query1("postgres", (
            "SELECT w.wal_bytes, w.wal_write_time + w.wal_sync_time, "
            "b.checkpoints_timed + b.checkpoints_req, "
            "(SELECT sum(xact_commit) FROM pg_stat_database) "
            "FROM pg_stat_wal w, pg_stat_bgwriter b")).split("|")
        return {"wal_bytes": int(row[0]), "wal_io_ms": float(row[1]),
                "checkpoints": int(row[2]), "commits": int(row[3]),
                "cpu_s": self.server_cpu_s()}

    def settings(self):
        rows = self.psql("postgres", (
            "SELECT name || '=' || setting FROM pg_settings WHERE name IN "
            "('shared_buffers','max_wal_size','checkpoint_timeout',"
            "'track_wal_io_timing','fsync','synchronous_commit',"
            "'wal_level','work_mem','maintenance_work_mem','server_version')"))
        return dict(r.split("=", 1) for r in rows)

