"""Build the engine from source and launch its commands as plain JVMs.

The engine is compiled with the Scala compiler that ships among the Spark
installation's jars (no sbt), into `.bench_build/` of the checkout. A stamp over every
source file skips the compile when nothing changed. Each command then runs
in its own JVM on that classpath, the way an operator runs one
`graft.Lifecycle` command per phase.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import time

HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars_dir():
    """The Spark installation's jars: `$SPARK_HOME/jars`, else the `jars`
    directory beside the `spark-class` found on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        launcher = shutil.which("spark-class")
        if not launcher:
            raise RuntimeError("Spark not found: set SPARK_HOME or put spark-class on the PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(launcher)))
    return os.path.join(home, "jars")


def spark_cp():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise RuntimeError(f"no Spark jars under {spark_jars_dir()}")
    return ":".join(jars)


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(srcs, out, cp, log):
    os.makedirs(out, exist_ok=True)
    args = os.path.join(out, "..", os.path.basename(out) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", spark_cp(), "scala.tools.nsc.Main",
                        "-nowarn", "-usejavacp", "-cp", cp, "-d", out, "@" + args],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    with open(log, "w") as f:
        f.write(r.stdout)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed for {out}:\n{r.stdout[-3000:]}")


def build(checkout, bench_dir):
    """Compile the engine (src/main/scala) and the benchmark's tracer.
    Returns the classpath. Raises when the sources are missing."""
    build_dir = os.path.join(checkout, ".bench_build")
    main_src = _sources(os.path.join(checkout, "src", "main", "scala"))
    trace_src = _sources(os.path.join(bench_dir, "trace"))
    if not main_src:
        raise RuntimeError("no engine sources under src/main/scala")
    classes = os.path.join(build_dir, "classes")
    tclasses = os.path.join(build_dir, "trace-classes")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = _stamp(main_src + trace_src)
    old = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if old != stamp:
        for d in (classes, tclasses):
            subprocess.run(["rm", "-rf", d], check=True)
        _scalac(main_src, classes, "", os.path.join(build_dir, "scalac-main.log"))
        _scalac(trace_src, tclasses, classes, os.path.join(build_dir, "scalac-trace.log"))
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return f"{classes}:{tclasses}:{spark_cp()}"


class Launcher:
    """Runs engine mains in fresh JVMs with the run's scratch dirs."""

    def __init__(self, cp, run_dir, cpus, salt):
        self.cp = cp
        self.run_dir = run_dir
        self.tmp = os.path.join(run_dir, "tmp")
        self.local = os.path.join(run_dir, "spark-local")
        os.makedirs(self.tmp, exist_ok=True)
        os.makedirs(self.local, exist_ok=True)
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), GRAFT_GLOBAL_SALT=salt,
                        SPARK_LOCAL_DIRS=self.local, TMPDIR=self.tmp)

    def run(self, main, args, log_name):
        """Run `main args` to completion. Returns (wall_s, peak_rss_mb, rc,
        output text)."""
        cmd = (["java"] + ADD_OPENS + [f"-Xmx{HEAP}",
                                       "-Dspark.ui.enabled=false",
                                       "-Dspark.sql.session.timeZone=UTC",
                                       f"-Djava.io.tmpdir={self.tmp}",
                                       f"-Dspark.local.dir={self.local}",
                                       "-Dderby.system.home=" + self.tmp]
               + ["-cp", self.cp, main] + list(args))
        log = os.path.join(self.run_dir, log_name)
        t0 = time.perf_counter()
        with open(log, "w") as out:
            p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                 cwd=self.run_dir, env=self.env)
            _, status, ru = os.wait4(p.pid, 0)
            p.returncode = os.waitstatus_to_exitcode(status)
        wall = time.perf_counter() - t0
        with open(log, errors="replace") as f:
            text = f.read()
        return wall, ru.ru_maxrss / 1024.0, p.returncode, text
