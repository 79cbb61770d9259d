#!/usr/bin/env python3
"""Benchmark launcher for graft.

Compiles graft's main sources together with the harness in this directory
(with the Scala compiler that ships in Spark's jars), then runs one
workload in a fresh JVM:

    python3 perfbench/run.py --workload bounded_micro --seed 1 --seconds 15 --trace 0

Everything the harness prints goes to stdout; the LAST line is the
result JSON {"correct", "attempted", "failed", "metrics"}, printed only
when the JVM exits cleanly. Build logs go to stderr. Artifacts of a run
live in a private directory under perfbench/.out/ that is deleted at
exit; traced runs leave their spans in perfbench/.out/spans/.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
WORKLOADS = ("bounded_micro", "bounded_bulk", "prepare_fuzzy")
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 800
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Jars of the Spark installation: $SPARK_HOME, else the one providing
    spark-submit on PATH, else this Python's pyspark package (which ships
    the same jars/). Spark's jars include the Scala compiler and library."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        spec = importlib.util.find_spec("pyspark")
        home = spec and spec.origin and os.path.dirname(spec.origin)
    if not home:
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail(f"no Scala compiler among the jars of {home}")
    return jars


def java():
    """The java launcher: on PATH, else under $JAVA_HOME."""
    exe = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.access(exe, os.X_OK):
        fail("java not found: put it on PATH or set JAVA_HOME")
    return exe


def sources():
    """graft's main sources (unchanged) and the harness's, in a fixed order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    return [os.path.join(d, f) for r in roots for d, _, fs in sorted(os.walk(r))
            for f in sorted(fs) if f.endswith(".scala")]


def build(jvm, jars):
    """Compile graft and the harness into perfbench/.out/classes with the
    Spark installation's scalac (if any source or jar changed); return the
    runtime classpath. Needs no sbt and no dependency resolution, and
    writes nothing outside perfbench/.out/."""
    srcs = sources()
    h = hashlib.sha256()
    for p in jars:
        h.update(os.path.basename(p).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "build.json")
    classpath = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp) and os.path.isdir(classes):
        with open(stamp) as f:
            if json.load(f).get("hash") == digest:
                return classpath
    os.makedirs(OUT, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="build-", dir=OUT)
    try:
        out = os.path.join(scratch, "classes")
        os.makedirs(out)
        args = os.path.join(scratch, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(srcs) + "\n")
        t0 = time.time()
        p = subprocess.run([jvm, "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                            f"-Djava.io.tmpdir={scratch}", "-cp", os.pathsep.join(jars),
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + args],
                           cwd=HERE, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
        sys.stderr.write(p.stdout[-4000:])
        if p.returncode != 0:
            fail(f"build failed (scalac exit {p.returncode})", 3)
        shutil.rmtree(classes, ignore_errors=True)
        os.replace(out, classes)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(stamp, "w") as f:
        json.dump({"hash": digest}, f)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the self-test")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala; run from a graft checkout")
    jvm = java()

    start = time.time()
    cp = build(jvm, spark_jars())
    build_s = time.time() - start
    cores = len(os.sched_getaffinity(0))
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=OUT)
    spans = os.path.join(OUT, "spans", f"{a.workload}-seed{a.seed}.jsonl")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ([jvm, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            # C2 compiles after a tenth of the default invocation counts: the
            # driver-side Spark and graft code then reaches its compiled steady
            # state within ~10 search batches instead of ~100, so a run's
            # timing window does not sit on a still-falling warm-up curve
            "-XX:CompileThresholdScaling=0.1",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(cores),
              "--work", work, "--spans", spans] + (["--tiny"] if a.tiny else []))
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(*_):
        kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("interrupted", 4)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    # the JVM gets what is left of the run's time limit (a build, which
    # only the first run in a checkout pays, is not counted)
    timer = threading.Timer(RUN_LIMIT_S - (time.time() - start - build_s), kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        fail(f"benchmark JVM exited with {code} and no result", 1)
    r = json.loads(result)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    print(result)


if __name__ == "__main__":
    main()
