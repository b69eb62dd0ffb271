#!/usr/bin/env python3
"""Benchmark entry point for the graft FkNN engine.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
       python3 perfbench/run.py --selftest
       python3 perfbench/run.py --fingerprint SF_DIR OUT_DIR

Run from the root of a checkout. The script compiles the library
(`src/main/scala`) and the benchmark (`perfbench/src`) from source with the
Scala compiler that ships in Spark's jar directory, caches the classes under
the build directory (`$CARGO_TARGET_DIR`, default `.bench_build`), then runs
one workload in one JVM. Every file the run writes stays under the build
directory. The last line of standard output is the JSON result; all other
lines are human-readable detail.
"""
import hashlib
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()

def spark_home():
    """$SPARK_HOME, else the installation that puts spark-submit on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.exists(os.path.join(d, "spark-submit")):
            return os.path.dirname(os.path.realpath(d))
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
# the read-only TPC-H-ish tables (sf0.001/, sf0.01/, sf0.1/) the declared rows
# and the crawl drops read
TESTDATA = os.environ.get("PERFBENCH_TESTDATA") or os.path.join(os.path.expanduser("~"), "testdata")
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
RUN_TIMEOUT_S = 170  # the run must end within 180 s; leave room to clean up

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jars():
    if not os.path.isdir(SPARK_JARS):
        die(f"no Spark jar directory at {SPARK_JARS}")
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def build():
    """Compile library + benchmark into BUILD/classes unless the stamp matches."""
    if not os.path.isdir(LIB_SRC):
        die(f"no library sources at {LIB_SRC}: run from the root of a checkout")
    srcs = scala_sources(LIB_SRC) + scala_sources(BENCH_SRC)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    cp = ":".join(jars())
    t = time.time()
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-deprecation:false", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("compilation failed")
    subprocess.run(["rm", "-rf", classes], check=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t:.1f} s", file=sys.stderr)
    return classes


def main():
    args = sys.argv[1:]
    if not args:
        die(__doc__)
    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = ":".join([classes, LIB_RES] + jars())
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # setup_s is measured from the JVM launch: the build above is not set-up
    # -XX:-UsePerfData: no hsperfdata file outside the checkout. A fixed-size
    # heap and the parallel collector: with a growing G1 heap the operations
    # ran about a third slower and kept drifting as the heap grew
    cmd += ["-XX:-UsePerfData", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-Xss8m",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.t0ns={time.time_ns()}",
            f"-Dperfbench.build={BUILD}", f"-Dperfbench.testdata={TESTDATA}",
            "-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    # own process group, so a timeout takes down the JVM and anything it forked
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                            start_new_session=True, text=True)
    last = None
    timed_out = [False]

    def kill(*_):
        timed_out[0] = True
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    limit = RUN_TIMEOUT_S if "--workload" in args else None
    if limit:
        signal.signal(signal.SIGALRM, kill)
        signal.alarm(limit)
    for line in proc.stdout:
        line = line.rstrip("\n")
        if line.startswith("{") and line.endswith("}"):
            last = line  # the result line is printed last, after the detail
        else:
            print(line, flush=True)
    rc = proc.wait()
    signal.alarm(0)
    if timed_out[0]:
        die(f"run exceeded {limit} s and was stopped")
    if rc != 0:
        die(f"benchmark JVM exited with code {rc}")
    if limit:  # a workload run ends with its result line
        if last is None:
            die("benchmark JVM printed no result")
        print(last, flush=True)


if __name__ == "__main__":
    main()
