"""The benchmark's workloads: inputs, the commands of one iteration, and the
untimed checks of its output.

The data itself is fixed. The seed sets the masking salt and the constants
of the subset predicates; the curate workload keeps a fixed salt and lets
the seed set its input file layout instead.
"""
import glob
import gzip
import hashlib
import json
import os
import shutil

import duckdb

import gen
import pg

STAR = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]

# Sizes the time budget allows: a full measurement (about 70 runs, each one
# iteration of cold-JVM commands plus repeated set-up) must fit in 3420 s.
PG_CUSTOMERS = 2000
LAKE_CUSTOMERS = 4000
CURATE_DOCS = 2000

# masked column per table, for the "masked columns changed" check
MASKED = {
    "customer": ["c_name", "c_acctbal"],
    "supplier": ["s_name"],
    "orders": ["o_totalprice", "o_orderpriority"],
    "lineitem": ["l_extendedprice"],
    "events": ["props"],
}


def mask_config(subset=None):
    """The reference-shaped masking config shared by the PG and lake
    workloads; `subset` maps table -> list of subset conditions."""
    subset = subset or {}
    tables = [
        {"table": "customer", "transforms": [
            {"column": "c_name", "name": "RandomPerson"},
            {"column": "c_acctbal", "name": "NoiseFloat", "params": {"ratio": "0.1", "decimals": "2"}}]},
        {"table": "supplier", "transforms": [{"column": "s_name", "name": "Hash"}]},
        {"table": "orders", "transforms": [
            {"column": "o_totalprice", "name": "NoiseFloat", "params": {"decimals": "2"}},
            {"column": "o_orderpriority", "name": "Masking"}]},
        {"table": "lineitem", "dump_slices": 4, "transforms": [
            {"column": "l_extendedprice", "name": "NoiseFloat", "params": {"decimals": "2"}}]},
        {"table": "events", "transforms": [{"column": "props", "name": "PiiScrub"}]},
        {"table": "region"}, {"table": "nation"}, {"table": "part"},
    ]
    for t in tables:
        if t["table"] in subset:
            t["subset_conds"] = subset[t["table"]]
    return {"tables": tables}


def schemas_of(data_dir, tables):
    con = duckdb.connect()
    out = {t: [(r[0], r[1]) for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')").fetchall()]
        for t in tables}
    con.close()
    return out


def dir_bytes(path, pattern="**/*"):
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, pattern), recursive=True)
               if os.path.isfile(f))


def rm(path):
    shutil.rmtree(path, ignore_errors=True)


class Workload:
    """One workload. Subclasses define setup, the phases of an iteration and
    the checks. `phases()` yields (name, main args) for Lifecycle."""
    name = ""

    def __init__(self, ctx, seed):
        self.ctx = ctx
        self.seed = seed
        self.salt = f"bench-salt-{seed}"
        self.dir = ctx.run_dir
        self.data = os.path.join(self.dir, "lake")
        self.out = os.path.join(self.dir, "out")
        self.target = os.path.join(self.dir, "target")
        self.cfg = os.path.join(self.dir, "config.json")
        self.reference = None  # first iteration's output fingerprint

    def teardown(self):
        pass

    def check_repeat(self, fp, failures):
        if self.reference is None:
            self.reference = fp
        elif fp != self.reference:
            failures.append("output differs from the run's first iteration")


class PgFullMask(Workload):
    """Whole-table masked pg-dump (gzip) of a live database, then pg-restore
    into an empty database."""
    name = "pg_full_mask"

    def setup(self):
        rm(self.data)
        self.rows = gen.write(self.data, PG_CUSTOMERS, 0, tables=STAR)
        self.cluster = pg.Cluster(os.path.join(self.dir, f"pg{len(self.ctx.clusters)}")).start()
        self.ctx.clusters.append(self.cluster)
        self.schemas = schemas_of(self.data, STAR)
        pg.load(self.cluster, "src", self.data, STAR, self.schemas)

    def teardown(self):
        if getattr(self, "cluster", None):
            self.cluster.stop()
            rm(self.cluster.base)

    def prepare(self):
        with open(self.cfg, "w") as f:
            json.dump(mask_config(), f)
        self.copy_bytes = pg.copy_text_bytes(self.cluster, "src", STAR)
        self.src_fp = {t: self._fingerprint("src", t) for t in STAR}
        self.src_constraints = pg.constraint_set(self.cluster, "src")

    def source_rows(self):
        return sum(self.rows.values())

    def source_bytes(self):
        return sum(self.copy_bytes.values())

    def before_iteration(self):
        rm(self.out)
        rm(self.out + ".schema")
        self.cluster.recreate("dst")

    def phases(self):
        return [("dump", ["pg-dump", self.cfg, self.cluster.conninfo("src"), self.out,
                          "--compress=gzip"]),
                ("restore", ["pg-restore", self.out, self.cluster.conninfo("dst"),
                             "--jobs", str(self.ctx.cpus)])]

    def traced_phases(self):
        return [("dump", ["pg-dump", self.cfg, self.cluster.conninfo("src"), self.out, "gzip"]),
                ("restore", ["pg-restore", self.out, self.cluster.conninfo("dst"),
                             str(self.ctx.cpus)])]

    def output_bytes(self):
        return dir_bytes(self.out)

    def _fingerprint(self, db, t):
        cols = [c for c, _ in self.schemas[t]]
        masked = MASKED.get(t, [])
        plain = [c for c in cols if c not in masked]
        fp = {"plain": pg.table_hash(self.cluster, db, t, plain)}
        for c in masked:
            fp[c] = pg.table_hash(self.cluster, db, t, [c])
        return fp

    def check(self, failures, db="dst"):
        dst = {t: self._fingerprint(db, t) for t in STAR}
        for t in STAR:
            if dst[t]["plain"] != self.src_fp[t]["plain"]:
                failures.append(f"{t}: rows or unmasked columns differ from the source")
            for c in MASKED.get(t, []):
                if dst[t][c] == self.src_fp[t][c]:
                    failures.append(f"{t}.{c}: masked column equals the source")
        if pg.constraint_set(self.cluster, db) != self.src_constraints:
            failures.append("target PK/FK/index set differs from the source")
        self.check_repeat(json.dumps(dst, sort_keys=True), failures)

    def payload(self):
        """{member: sha256} of the archive's data members."""
        return {os.path.basename(f): hashlib.sha256(open(f, "rb").read()).hexdigest()
                for f in sorted(glob.glob(os.path.join(self.out, "*.dat.gz")))}

    def payload_raw_bytes(self):
        n = 0
        for f in glob.glob(os.path.join(self.out, "*.dat.gz")):
            with gzip.open(f, "rb") as g:
                while True:
                    b = g.read(1 << 20)
                    if not b:
                        break
                    n += len(b)
        return n


class LakeSubsetMask(Workload):
    """Subset + mask of a parquet lake with `Lifecycle dump`, then
    `Lifecycle restore` to a parquet target."""
    name = "lake_subset_mask"

    def setup(self):
        rm(self.data)
        self.rows = gen.write(self.data, LAKE_CUSTOMERS, 0, tables=STAR)

    def prepare(self):
        r = self.seed % 20
        self.conds = {"customer": [f"c_custkey % 20 = {r}"],
                      "part": [f"p_partkey % 4 <> {self.seed % 4}"]}
        with open(self.cfg, "w") as f:
            json.dump(mask_config(self.conds), f)
        self.schemas = schemas_of(self.data, STAR)
        self.expected = self._closure()

    def source_rows(self):
        return sum(self.rows.values())

    def source_bytes(self):
        return sum(dir_bytes(os.path.join(self.data, f"{t}.parquet")) for t in STAR)

    def before_iteration(self):
        rm(self.out)
        rm(self.target)

    def phases(self):
        return [("dump", ["dump", self.cfg, self.data, self.out]),
                ("restore", ["restore", os.path.join(self.out, "manifest.json"), self.target])]

    traced_phases = phases

    def output_bytes(self):
        return dir_bytes(self.out)

    def _src(self, t):
        return f"read_parquet('{self.data}/{t}.parquet/*.parquet')"

    def _closure(self):
        """Rows and unmasked-column hashes of the FK closure, computed with
        plain semi-joins: customer and part filtered by their conditions,
        orders and events follow customer, lineitem follows orders and
        part."""
        c = " AND ".join(self.conds["customer"])
        p = " AND ".join(self.conds["part"])
        views = {
            "customer": f"SELECT * FROM {self._src('customer')} WHERE {c}",
            "part": f"SELECT * FROM {self._src('part')} WHERE {p}",
            "orders": f"SELECT * FROM {self._src('orders')} WHERE o_custkey IN "
                      f"(SELECT c_custkey FROM {self._src('customer')} WHERE {c})",
            "events": f"SELECT * FROM {self._src('events')} WHERE user_id IN "
                      f"(SELECT c_custkey FROM {self._src('customer')} WHERE {c})",
        }
        views["lineitem"] = (f"SELECT * FROM {self._src('lineitem')} WHERE l_orderkey IN "
                             f"(SELECT o_orderkey FROM ({views['orders']})) AND l_partkey IN "
                             f"(SELECT p_partkey FROM ({views['part']}))")
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        out = {}
        for t in STAR:
            q = views.get(t, f"SELECT * FROM {self._src(t)}")
            out[t] = self._hash(con, q, t)
        con.close()
        return out

    def _hash(self, con, query, t):
        plain = [c for c, _ in self.schemas[t] if c not in MASKED.get(t, [])]
        n, h = con.execute(f"SELECT count(*), coalesce(sum(hash({', '.join(plain)})::HUGEINT), 0) "
                           f"FROM ({query})").fetchone()
        return [n, str(h)]

    def check(self, failures):
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        got = {}
        for t in STAR:
            files = glob.glob(os.path.join(self.target, t, "*.parquet"))
            if not files:
                failures.append(f"{t}: missing from the restored lake")
                continue
            got[t] = self._hash(con, f"SELECT * FROM read_parquet('{self.target}/{t}/*.parquet')", t)
            if got[t] != self.expected[t]:
                failures.append(f"{t}: rows or unmasked columns differ from the semi-join closure")
        if len(got) == len(STAR):
            for child, cc, parent, pc in pg.FOREIGN_KEYS + [("events", "user_id", "customer", "c_custkey")]:
                n = con.execute(
                    f"SELECT count(*) FROM read_parquet('{self.target}/{child}/*.parquet') x "
                    f"WHERE {cc} NOT IN (SELECT {pc} FROM read_parquet('{self.target}/{parent}/*.parquet'))"
                ).fetchone()[0]
                if n:
                    failures.append(f"{child}.{cc} -> {parent}: {n} orphan rows")
        con.close()
        self.kept = sum(v[0] for v in got.values())
        self.check_repeat(json.dumps(got, sort_keys=True), failures)

    def keep_ratio(self):
        return getattr(self, "kept", 0) / max(self.source_rows(), 1)


CURATE_STEPS = [
    {"op": "normalize"},
    {"op": "dedup_exact"},
    {"op": "dedup_minhash"},
    {"op": "boilerplate_lines", "min_docs": "50"},
    {"op": "dedup_spans"},
    {"op": "length_filter", "min_tokens": "5", "max_tokens": "100000"},
    {"op": "pii_scrub"},
    {"op": "sample_hash", "rate": "2"},
]


class CurateNeardup(Workload):
    """`Lifecycle curate` over documents with planted exact and near
    duplicates. The command has no restore phase."""
    name = "curate_neardup"

    def __init__(self, ctx, seed):
        super().__init__(ctx, seed)
        # the salt stays fixed: it picks which documents the hash sampler
        # keeps, and so the output size; the seed lays the same rows out
        # in another file order instead, which must not change the output
        self.salt = "bench-salt"

    def setup(self):
        rm(self.data)
        self.rows = gen.write(self.data, 0, CURATE_DOCS, tables=["documents"],
                              order_seed=self.seed)

    def prepare(self):
        with open(self.cfg, "w") as f:
            json.dump({"input": "documents", "id": "doc_id", "text": "text",
                       "steps": CURATE_STEPS}, f)
        con = duckdb.connect()
        self.input_ids = set(r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{self.data}/documents.parquet/*.parquet')").fetchall())
        con.close()

    def source_rows(self):
        return self.rows["documents"]

    def source_bytes(self):
        return dir_bytes(os.path.join(self.data, "documents.parquet"))

    def before_iteration(self):
        rm(self.out)
        os.makedirs(self.out, exist_ok=True)

    def phases(self):
        return [("dump", ["curate", self.cfg, self.data, self.out])]

    traced_phases = phases

    def output_bytes(self):
        return dir_bytes(os.path.join(self.out, "curated.parquet"))

    def check(self, failures):
        con = duckdb.connect()
        q = f"read_parquet('{self.out}/curated.parquet/*.parquet')"
        try:
            rows = con.execute(f"SELECT doc_id, text FROM {q}").fetchall()
        except duckdb.Error as e:
            failures.append(f"curated output unreadable: {e}")
            return
        finally:
            con.close()
        ids = [r[0] for r in rows]
        if not set(ids) <= self.input_ids:
            failures.append("curated ids are not a subset of the input ids")
        if len(set(r[1] for r in rows)) != len(rows):
            failures.append("two curated rows have equal text")
        if not rows:
            failures.append("curated output is empty")
        h = hashlib.sha256()
        for i, t in sorted(rows):
            h.update(f"{i}\t{t}\n".encode())
        self.check_repeat(h.hexdigest(), failures)


WORKLOADS = {w.name: w for w in (PgFullMask, LakeSubsetMask, CurateNeardup)}
