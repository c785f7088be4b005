#!/usr/bin/env python3
"""End-to-end benchmark of the masked dump -> restore loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine is compiled from the
checkout's sources (see jvm.py), the inputs are generated from scratch
(gen.py), and each phase runs as one `graft.Lifecycle` command in its own
JVM. One client runs one command at a time (a closed loop); Spark gets
`nproc` cores and restores use `--jobs nproc`.

--trace 0 measures the end-to-end metrics: set-up is repeated and its
median reported, then iterations (dump, restore, untimed check) run until
`--seconds` have passed. --trace 1 makes one untraced and one traced
iteration: the traced one calls the layers' public functions from
`trace/BenchTrace.scala` and reports the per-layer ledger.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Every scratch file lives under `.bench_run/` of the checkout and
is removed on exit; the run fails if a postgres process or a COPY spool
file survives it.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import jvm  # noqa: E402
import ledger  # noqa: E402
import pg  # noqa: E402
import workloads  # noqa: E402

# set-up is repeated at least SETUP_REPEATS times, and until SETUP_BUDGET_S
# seconds are spent (at most SETUP_MAX times), so cheap set-ups get a
# steadier median
SETUP_REPEATS = 3
SETUP_BUDGET_S = 4.0
SETUP_MAX = 15
MAIN = "graft.Lifecycle"
TRACER = "perfbench.BenchTrace"


class Ctx:
    def __init__(self, run_dir, cpus):
        self.run_dir = run_dir
        self.cpus = cpus
        self.clusters = []


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spools(launcher):
    return glob.glob(os.path.join(launcher.tmp, "graft_pgsrc_*"))


def run_phases(wl, launcher, phases, main, failures, trace_files=None):
    """Run the commands of one iteration. Returns ({phase: wall}, peak rss
    MiB, commands attempted, commands failed, {phase: connections})."""
    walls, rss, conns, attempted, failed = {}, 0.0, {}, 0, 0
    cluster = getattr(wl, "cluster", None)
    for name, args in phases:
        if trace_files is not None:
            trace_files[name] = os.path.join(wl.dir, f"trace-{name}.jsonl")
            args = [str(int(time.time() * 1000)), str(os.getpid()), trace_files[name]] + args
        before = cluster.connections() if cluster else 0
        wall, peak, rc, out = launcher.run(main, args, f"{name}.log")
        conns[name] = (cluster.connections() - before) if cluster else 0
        attempted += 1
        walls[name] = wall
        rss = max(rss, peak)
        if rc != 0:
            failed += 1
            failures.append(f"{name} exited with {rc}")
            log(out[-4000:])
            return walls, rss, attempted, failed, conns
        left = spools(launcher)
        if left:
            failed += 1
            failures.append(f"{name} left COPY spool files behind: {left[:3]}")
            for f in left:
                os.remove(f)
    return walls, rss, attempted, failed, conns


def checked(wl, failures):
    """Untimed output check of one iteration. Returns 1 if it failed."""
    before = len(failures)
    wl.check(failures)
    for f in failures[before:]:
        log(f"[check] {wl.name}: {f}")
    return 1 if len(failures) > before else 0


def untraced(wl, launcher, seconds):
    setups = []
    while len(setups) < SETUP_REPEATS or (sum(setups) < SETUP_BUDGET_S and len(setups) < SETUP_MAX):
        if setups:
            wl.teardown()
        t0 = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t0)
    wl.prepare()
    attempted = failed = 0
    cycles, dumps = [], []
    t_start = time.perf_counter()
    while not cycles or time.perf_counter() - t_start < seconds:
        wl.before_iteration()
        failures = []
        walls, _, a, f, _ = run_phases(wl, launcher, wl.phases(), MAIN, failures)
        attempted += a + 1
        failed += f
        if f == 0:
            failed += checked(wl, failures)
        else:
            log(f"[run] {wl.name}: {failures}")
        cycles.append(sum(walls.values()))
        dumps.append(walls.get("dump", 0.0))
    cycle = statistics.median(cycles)
    metrics = {
        "cycle_s": (cycle, "s"),
        "dump_s": (statistics.median(dumps), "s"),
        "rows_per_s": (wl.source_rows() / cycle, "rows/s"),
        "output_ratio": (wl.output_bytes() / wl.source_bytes(), "ratio"),
        "setup_s": (statistics.median(setups), "s"),
    }
    log(f"[run] {wl.name}: {len(cycles)} iterations, cycles {[round(c, 3) for c in cycles]}, "
        f"setups {[round(s, 3) for s in setups]}")
    return attempted, failed, metrics


def traced(wl, launcher):
    wl.setup()
    wl.prepare()
    attempted = failed = 0
    # untraced reference iteration: the commands as an operator runs them
    wl.before_iteration()
    failures = []
    walls, rss, a, f, conns = run_phases(wl, launcher, wl.phases(), MAIN, failures)
    attempted += a + 1
    failed += f or checked(wl, failures)
    reference = wl.payload() if hasattr(wl, "payload") else None
    # traced iteration
    wl.before_iteration()
    files = {}
    twalls, _, a, f, _ = run_phases(wl, launcher, wl.traced_phases(), TRACER, failures, files)
    if f:
        raise RuntimeError(f"traced iteration failed: {failures}")
    attempted += a + 1
    # the check compares the traced output with the untraced iteration's
    same = not checked(wl, failures)
    failed += not same
    extra = {
        "untraced.cycle_s": sum(walls.values()),
        "untraced.peak_rss_mb": rss,
        "traced.cycle_s": sum(twalls.values()),
        "trace.overhead_s": sum(twalls.values()) - sum(walls.values()),
        "pg.connections_dump": conns.get("dump", 0),
        "pg.connections_restore": conns.get("restore", 0),
    }
    if reference is not None:
        payload = wl.payload()
        attempted += 1
        if payload != reference or not payload:
            failed += 1
            same = False
            log(f"[check] traced archive payload differs: {payload} vs {reference}")
        extra["archive.bytes"] = workloads.dir_bytes(wl.out, "*.dat.gz")
        extra["archive.dat_bytes"] = wl.payload_raw_bytes()
        extra["pgsource.copy_bytes"] = wl.source_bytes()
    extra["trace.payload_identical"] = float(same)
    if hasattr(wl, "keep_ratio"):
        extra["subset.keep_ratio"] = wl.keep_ratio()
    m = ledger.build(wl.name, files, twalls, extra)
    return attempted, failed, {k: (v, ledger.UNITS[k]) for k, v in m.items()}


def teardown(ctx):
    """Stop every cluster, delete the run directory, and report what
    survived."""
    problems = []
    for c in ctx.clusters:
        c.stop()
    for data in {c.data for c in ctx.clusters}:
        pid_file = os.path.join(data, "postmaster.pid")
        deadline = time.time() + 15
        while os.path.exists(pid_file) and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(pid_file):
            problems.append(f"postgres still running in {data}")
    if not problems and pg.postgres_pids(ctx.run_dir):
        problems.append("postgres processes survived")
    left = glob.glob(os.path.join(ctx.run_dir, "**", "graft_pgsrc_*"), recursive=True)
    if left:
        problems.append(f"COPY spool files survived: {left[:3]}")
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    parent = os.path.dirname(ctx.run_dir)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)
    return problems


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    cpus = len(os.sched_getaffinity(0))
    ctx = Ctx(os.path.join(checkout, ".bench_run", str(os.getpid())), cpus)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result, error = None, None
    try:
        t0 = time.perf_counter()
        cp = jvm.build(checkout, HERE)
        log(f"[run] build ready in {time.perf_counter() - t0:.1f} s")
        wl = workloads.WORKLOADS[args.workload](ctx, args.seed)
        os.makedirs(ctx.run_dir, exist_ok=True)
        launcher = jvm.Launcher(cp, ctx.run_dir, cpus, wl.salt)
        if args.trace:
            attempted, failed, metrics = traced(wl, launcher)
        else:
            attempted, failed, metrics = untraced(wl, launcher, args.seconds)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    except Exception as e:  # reported below, after teardown
        error = e
    finally:
        problems = teardown(ctx)
    for p in problems:
        log(f"[teardown] {p}")
    if error is not None:
        log(f"[run] failed: {error!r}")
        return 1
    if problems:
        return 1
    for k, v in result["metrics"].items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
