"""Build the engine plus the benchmark driver, and launch the driver JVM."""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha1")

# Spark 4 on JDK 17 outside spark-submit needs these opens (the engine's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# The exact tier's kernel loop (CosineCandidatesExec.processPartition) is one
# method invoked once per partition, a few times per call. Its first C2
# version deoptimizes on its second call (a branch its loop-only profile
# never saw). In about one JVM in five the recompile then lands in
# profiled C1 code, which is never replaced while the method is invoked so
# rarely, and cosine_topk calls take up to 1.8 times as long for the rest of
# the run. Which state a run lands in is a race in the JIT, not a property
# of the input, so timed calls would measure one state or the other at
# random. Excluding that one method from C1 makes it profile in the
# interpreter and go straight to C2 after a deoptimization, the state the
# other JVMs reach. README.md lists the C1 state as a gap.
KERNEL_JIT = '[{match: "graft/plans/CosineCandidatesExec$.processPartition", c1: {Exclude: true}}]'


def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def _digest(files):
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log):
    """Compile (only when a source changed) and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("engine sources not found under src/main/scala")
    digest = _digest(_sources())
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"), "-Xmx3g"])
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        raise RuntimeError("benchmark build failed (see the build log)")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return open(CLASSPATH).read().strip()


def java_cmd(classpath, run_dir, heap, main, args):
    """A JVM for `main` whose temp files and Spark scratch stay in run_dir."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    directives = f"{run_dir}/tmp/jit_directives.json"
    with open(directives, "w") as fh:
        fh.write(KERNEL_JIT)
    # A fixed-size heap and a stop-the-world collector: no heap resizing and
    # no concurrent marking threads competing with the measured calls. The
    # compiler directive is KERNEL_JIT.
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
             "-XX:+UnlockDiagnosticVMOptions", f"-XX:CompilerDirectivesFile={directives}",
             f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={run_dir}/spark-local"] +
            opens +
            ["-cp", classpath, main] + list(args))


def run_driver(classpath, run_dir, heap, args, log, timeout, min_free_gb, pids):
    """Run the driver JVM; kill it if the disk runs low or time runs out.
    Appends the JVM's pid to `pids` (the engine names scratch dirs after it)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
    cmd = java_cmd(classpath, run_dir, heap, "perfbench.Driver", [f"{k}={v}" for k, v in args.items()])
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
    pids.append(p.pid)
    waited = 0.0
    try:
        while True:
            try:
                rc = p.wait(timeout=0.5)
                break
            except subprocess.TimeoutExpired:
                waited += 0.5
                if shutil.disk_usage(run_dir).free < min_free_gb * 1e9:
                    raise RuntimeError(f"free disk fell below {min_free_gb} GB; driver stopped")
                if waited > timeout:
                    raise RuntimeError(f"driver exceeded {timeout} s; stopped")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0:
        raise RuntimeError(f"driver exited with code {rc} (see the driver log)")


if __name__ == "__main__":
    print(build(sys.stderr))
