"""Per-layer ledger of a traced run.

Reads the spans and counters each traced command wrote and computes each
module's self time: the wall time its spans cover, with concurrent spans
of one module merged. The remainder of a phase that no span covers is its
own row. The full module table is printed with the dominant layer of each
phase.

The per-layer metrics group the modules into roles that every workload
has (read, transform, write), so that no reported time is a constant zero
on a workload that lacks a module; module-level times stay in the printed
table and in the trace files.
"""
import json

CURATE_OPS = ["normalize", "dedup_exact", "dedup_minhash", "boilerplate_lines",
              "dedup_spans", "length_filter", "pii_scrub", "sample_hash"]

# role -> the spans (modules) it sums
ROLES = {
    "layer.read_s": ["pgsource.catalog", "pgsource.copy", "copytext.parse", "pgdump.schema",
                     "catalog.load", "curate.input"],
    "layer.transform_s": ["planner.construct", "planner.exec", "subset.construct",
                          "subset.exec"] + [f"curate.{op}" for op in CURATE_OPS],
    "layer.write_s": ["archive.write", "pgtoc.merge", "storage.write", "manifest.build",
                      "curate.write", "pgrestore.predata", "pgrestore.data",
                      "pgrestore.postdata", "lakerestore"],
}

# (name, unit, better)
PER_LAYER = (
    [("cli.startup_s", "s", "lower"), ("cli.shutdown_s", "s", "lower")]
    + [(r, "s", "lower") for r in ROLES]
    + [("phase.unspanned_s", "s", "lower"),
       ("spark.jobs", "count", "lower"), ("spark.tasks", "count", "lower"),
       ("spark.job_wall_s", "s", "lower"), ("spark.task_s", "s", "lower"),
       ("spark.parallel_eff", "ratio", "higher"), ("spark.task_skew", "ratio", "lower"),
       ("spark.shuffle_bytes", "bytes", "lower"), ("spark.spill_bytes", "bytes", "lower"),
       ("driver.outside_jobs_s", "s", "lower"),
       ("jvm.gc_s", "s", "lower"), ("jvm.peak_heap_mb", "MiB", "lower"),
       ("pgsource.catalog_calls", "count", "lower"), ("pgsource.copy_rows", "rows", "lower"),
       ("pgsource.copy_bytes", "bytes", "lower"),
       ("archive.dat_bytes", "bytes", "lower"), ("archive.bytes", "bytes", "lower"),
       ("pg.connections_dump", "count", "lower"), ("pg.connections_restore", "count", "lower"),
       ("subset.keep_ratio", "ratio", "lower")]
    + [(f"curate.{op}_rows_out", "rows", "lower") for op in CURATE_OPS]
    + [("untraced.cycle_s", "s", "lower"), ("untraced.peak_rss_mb", "MiB", "lower"),
       ("traced.cycle_s", "s", "lower"),
       ("trace.overhead_s", "s", "lower"), ("trace.payload_identical", "bool", "higher")])

UNITS = {name: unit for name, unit, _ in PER_LAYER}


def union_s(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e9


def read(path):
    spans, counts = [], {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if "span" in r:
                spans.append(r)
            else:
                counts[r["count"]] = r["value"]
    return spans, counts


def phase_layers(spans):
    """({module: self seconds}, phase wall, uncovered remainder) of the
    one phase a trace file holds."""
    top = [s for s in spans if s["parent"] == ""]
    children = [s for s in spans if s["parent"] != ""]
    layers = {name: union_s([(s["start"], s["end"]) for s in children if s["span"] == name])
              for name in sorted({s["span"] for s in children})}
    wall = (top[0]["end"] - top[0]["start"]) / 1e9 if top else 0.0
    covered = union_s([(s["start"], s["end"]) for s in children])
    return layers, wall, max(wall - covered, 0.0)


def build(workload, phases, process_walls, extra):
    """Per-layer metrics of one traced iteration.

    `phases` maps a phase name to its trace file, `process_walls` to the
    command's wall seconds measured by the benchmark, `extra` holds the
    metrics the benchmark measured itself. Prints the module table."""
    m = {k: 0.0 for k in UNITS}
    m.update({k: v for k, v in extra.items() if k in m})
    cores_wall = 0.0
    print(f"[ledger] {workload}: self time per module in the traced iteration")
    for phase, path in phases.items():
        spans, counts = read(path)
        layers, wall, rest = phase_layers(spans)
        startup = counts.get("cli.startup_s", 0.0)
        shutdown = max(process_walls[phase] - startup - wall, 0.0)
        m["cli.startup_s"] += startup
        m["cli.shutdown_s"] += shutdown
        m["phase.unspanned_s"] += rest
        for role, names in ROLES.items():
            m[role] += sum(layers.get(n, 0.0) for n in names)
        for k, v in counts.items():
            if k in m and k not in ("cli.startup_s", "spark.task_skew", "jvm.peak_heap_mb"):
                m[k] += v
        m["spark.task_skew"] = max(m["spark.task_skew"], counts.get("spark.task_skew", 0.0))
        m["jvm.peak_heap_mb"] = max(m["jvm.peak_heap_mb"], counts.get("jvm.peak_heap_mb", 0.0))
        cores_wall += counts.get("spark.cores_x_wall_s", 0.0)
        rows = [("cli.startup", startup)] + sorted(layers.items(), key=lambda kv: -kv[1]) + [
            ("(no span)", rest), ("cli.shutdown", shutdown)]
        total = process_walls[phase]
        print(f"[ledger]   phase {phase}: {total:.3f} s process wall")
        for name, secs in rows:
            print(f"[ledger]     {name:<28} {secs:8.3f} s  {100 * secs / max(total, 1e-9):5.1f} %")
        dom = max(rows, key=lambda kv: kv[1])
        print(f"[ledger]   dominant layer of {phase}_s on {workload}: {dom[0]} ({dom[1]:.3f} s)")
    m["spark.parallel_eff"] = m["spark.task_s"] / cores_wall if cores_wall else 0.0
    return m
