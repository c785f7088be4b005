"""Scratch PostgreSQL 15 cluster for the benchmark.

The cluster lives under the run directory and listens on 127.0.0.1 only
(no unix socket: a socket path inside a deep checkout can exceed the
107-byte limit). initdb and pg_ctl refuse uid 0, so they run as the
`postgres` system user; that user keeps CAP_DAC_OVERRIDE as an ambient
capability so it can reach a run directory below a root-only parent.
`log_connections=on` lets the benchmark count server connections per phase
from the cluster log.
"""
import os
import shutil
import socket
import subprocess

import duckdb

PSQL = shutil.which("psql") or "psql"
PG_USER = "postgres"

# columns that carry the source's constraints, restored and checked as-is
PRIMARY_KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
}
FOREIGN_KEYS = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]
INDEXES = [("lineitem_l_orderkey_idx", "lineitem", "l_orderkey")]

PG_TYPES = {"INTEGER": "integer", "BIGINT": "bigint", "DOUBLE": "double precision",
            "VARCHAR": "text", "TIMESTAMP": "timestamp"}


def _as_postgres(cmd):
    full = ["setpriv", f"--reuid={PG_USER}", f"--regid={PG_USER}", "--init-groups",
            "--inh-caps=+dac_override", "--ambient-caps=+dac_override", "--"] + cmd
    r = subprocess.run(full, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, cwd="/")
    if r.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} failed: {r.stdout[-2000:]}")
    return r.stdout


def _pg_tool(name):
    """Absolute path of a PostgreSQL server tool found on the PATH (the
    tool runs as another user, who may have another PATH)."""
    path = shutil.which(name)
    if not path:
        raise RuntimeError(f"{name} not found on the PATH")
    return os.path.realpath(path)


def _free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Cluster:
    """One initdb'd, started cluster. `stop()` is idempotent."""

    def __init__(self, base):
        self.base = base
        self.data = os.path.join(base, "data")
        self.log = os.path.join(base, "pg.log")
        self.port = None
        self.up = False

    def start(self):
        os.makedirs(self.base, exist_ok=True)
        shutil.chown(self.base, PG_USER, PG_USER)
        _as_postgres([_pg_tool("initdb"), "-D", self.data, "--no-sync", "-A", "trust",
                      "-U", "graft", "-E", "UTF8", "--locale=C"])
        self.port = _free_port()
        opts = (f"-c listen_addresses=127.0.0.1 -p {self.port} -c unix_socket_directories='' "
                "-c log_connections=on -c fsync=off -c synchronous_commit=off "
                "-c full_page_writes=off -c max_connections=60 -c shared_buffers=128MB "
                "-c max_wal_size=1GB -c checkpoint_timeout=30min")
        _as_postgres([_pg_tool("pg_ctl"), "-D", self.data, "-o", opts, "-l", self.log,
                      "-w", "-t", "60", "start"])
        self.up = True
        return self

    def stop(self):
        if self.up:
            self.up = False
            try:
                _as_postgres([_pg_tool("pg_ctl"), "-D", self.data, "-m", "immediate",
                              "-w", "-t", "30", "stop"])
            except RuntimeError:
                pass

    def conninfo(self, db):
        return f"host=127.0.0.1 port={self.port} dbname={db} user=graft"

    def psql(self, db, sql):
        r = subprocess.run([PSQL, "-X", "-q", "-v", "ON_ERROR_STOP=1", "-A", "-t",
                            "-d", self.conninfo(db), "-c", sql],
                           capture_output=True, text=True)
        if r.returncode != 0:
            raise RuntimeError(f"psql failed on {sql[:120]!r}: {r.stderr[-1500:]}")
        return r.stdout.strip()

    def connections(self):
        """Connections the server has accepted so far (from its log)."""
        try:
            with open(self.log, errors="replace") as f:
                return sum(1 for line in f if "connection authorized" in line)
        except OSError:
            return 0

    def recreate(self, db):
        self.psql("postgres", f"DROP DATABASE IF EXISTS {db} WITH (FORCE)")
        self.psql("postgres", f"CREATE DATABASE {db}")


def load(cluster, db, data_dir, tables, schemas):
    """Create `db` from the parquet lake: bare tables, bulk COPY, then the
    source's primary keys, foreign keys and index (constraints after the
    load, as a restore would)."""
    cluster.recreate(db)
    ddl = []
    for t in tables:
        cols = ", ".join(f"{c} {PG_TYPES[ty]}" for c, ty in schemas[t])
        ddl.append(f"CREATE TABLE {t} ({cols});")
    cluster.psql(db, "\n".join(ddl))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        csv = os.path.join(cluster.base, f"{t}.csv")
        con.execute(f"COPY (SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')) "
                    f"TO '{csv}' (FORMAT csv, HEADER false, TIMESTAMPFORMAT '%Y-%m-%d %H:%M:%S.%f')")
        with open(csv, "rb") as f:
            r = subprocess.run([PSQL, "-X", "-q", "-v", "ON_ERROR_STOP=1", "-d",
                                cluster.conninfo(db), "-c", f"COPY {t} FROM STDIN (FORMAT csv)"],
                               stdin=f, capture_output=True, text=True)
        os.remove(csv)
        if r.returncode != 0:
            raise RuntimeError(f"load {t}: {r.stderr[-1500:]}")
    con.close()
    post = [f"ALTER TABLE {t} ADD PRIMARY KEY ({', '.join(k)});"
            for t, k in PRIMARY_KEYS.items() if t in tables]
    post += [f"ALTER TABLE {c} ADD CONSTRAINT {c}_{cc}_fkey FOREIGN KEY ({cc}) REFERENCES {p} ({pc});"
             for c, cc, p, pc in FOREIGN_KEYS if c in tables and p in tables]
    post += [f"CREATE INDEX {n} ON {t} ({c});" for n, t, c in INDEXES if t in tables]
    post.append("VACUUM ANALYZE;")
    for stmt in post:
        cluster.psql(db, stmt)


def copy_text_bytes(cluster, db, tables):
    """{table: bytes of its COPY text}: what a whole-table COPY sends."""
    return {t: int(cluster.psql(db, f"SELECT sum(octet_length(x::text) + 1) FROM "
                                    f"(SELECT ({t}.*)::text AS x FROM {t}) s") or 0)
            for t in tables}


def constraint_set(cluster, db):
    """(kind, table, definition) of every PK, FK and index in `db`."""
    out = cluster.psql(db, """
        SELECT 'c|' || conrelid::regclass || '|' || pg_get_constraintdef(oid)
          FROM pg_constraint WHERE connamespace = 'public'::regnamespace
        UNION ALL
        SELECT 'i|' || tablename || '|' || regexp_replace(indexdef, 'INDEX \\S+ ON', 'INDEX ON')
          FROM pg_indexes WHERE schemaname = 'public'
        ORDER BY 1""")
    return sorted(out.splitlines())


def table_hash(cluster, db, table, cols):
    """(rows, order-independent hash) of `cols` of `table`: a sum of
    per-row 64-bit hashes, so no sort is needed."""
    expr = "row(" + ", ".join(cols) + ")::text" if len(cols) > 1 else f"({cols[0]})::text"
    r = cluster.psql(db, f"SELECT count(*) || '|' || coalesce(sum(hashtextextended({expr}, 7)::numeric), 0) "
                         f"FROM {table}")
    n, h = r.split("|")
    return int(n), h


def postgres_pids(pattern_dir):
    """Pids of postgres processes whose command line names `pattern_dir`."""
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace")
        except OSError:
            continue
        if "postgres" in cmd and pattern_dir in cmd:
            pids.append(int(p))
    return pids
