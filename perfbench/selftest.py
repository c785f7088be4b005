#!/usr/bin/env python3
"""Self-test of the benchmark's output checks on the pg_full_mask workload.

    python3 perfbench/selftest.py

Run from the root of a checkout. It dumps the source once with the
engine's `pg-dump` (gzip) and restores that archive twice: with the
engine's `pg-restore` and with the native `pg_restore` 15. It then shows

  1. both restores pass the benchmark's checks;
  2. `Lifecycle pg-diff` reports MATCH for every table between them;
  3. each injected fault fails the checks: one deleted row, and one
     masked column overwritten with the source's values.

Exits 0 when every expectation holds.
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import jvm  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

PG_RESTORE = shutil.which("pg_restore") or "pg_restore"


def main():
    checkout = os.getcwd()
    cpus = len(os.sched_getaffinity(0))
    ctx = run.Ctx(os.path.join(checkout, ".bench_run", f"selftest-{os.getpid()}"), cpus)
    results = []

    def expect(name, ok):
        results.append(ok)
        print(f"[selftest] {'PASS' if ok else 'FAIL'} {name}", flush=True)

    try:
        cp = jvm.build(checkout, HERE)
        wl = workloads.PgFullMask(ctx, seed=1)
        os.makedirs(ctx.run_dir, exist_ok=True)
        launcher = jvm.Launcher(cp, ctx.run_dir, cpus, wl.salt)
        wl.setup()
        wl.prepare()
        wl.before_iteration()
        failures = []
        _, _, _, bad, _ = run.run_phases(wl, launcher, wl.phases(), run.MAIN, failures)
        expect("engine pg-dump and pg-restore exit 0", bad == 0)
        failures = []
        wl.check(failures, db="dst")
        expect(f"engine restore passes the checks {failures}", not failures)

        c = wl.cluster
        c.recreate("native")
        r = subprocess.run([PG_RESTORE, "-d", c.conninfo("native"), "-j", str(cpus),
                            wl.out], capture_output=True, text=True)
        expect(f"native pg_restore exits 0 {r.stderr[-500:]}", r.returncode == 0)
        failures = []
        wl.check(failures, db="native")
        expect(f"native restore passes the checks {failures}", not failures)

        _, _, rc, out = launcher.run(run.MAIN, ["pg-diff", c.conninfo("dst"), c.conninfo("native"),
                                                ",".join(workloads.STAR)], "pg-diff.log")
        lines = [ln for ln in out.splitlines() if ln.startswith("[pg-diff]")]
        expect("pg-diff reports MATCH for every table",
               rc == 0 and len(lines) == len(workloads.STAR) and all(" MATCH " in ln for ln in lines))

        c.psql("native", "DELETE FROM lineitem WHERE ctid = (SELECT min(ctid) FROM lineitem)")
        failures = []
        wl.check(failures, db="native")
        expect(f"a deleted row fails the checks {failures}", bool(failures))

        c.recreate("native")
        subprocess.run([PG_RESTORE, "-d", c.conninfo("native"), wl.out],
                       capture_output=True, check=True)
        # the generator's own c_name rule, i.e. the source's values
        c.psql("native", "UPDATE customer SET c_name = 'Customer#' || lpad(c_custkey::text, 9, '0')")
        failures = []
        wl.check(failures, db="native")
        expect(f"a masked column overwritten from the source fails the checks {failures}",
               bool(failures))
    finally:
        for p in run.teardown(ctx):
            print(f"[selftest] teardown: {p}")
            results.append(False)
    ok = bool(results) and all(results)
    print(f"[selftest] {'all checks behave' if ok else 'FAILED'} ({sum(results)}/{len(results)})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
