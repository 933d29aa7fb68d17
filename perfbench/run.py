#!/usr/bin/env python3
"""Build and run the graft performance benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload <query_suite|annotate_batch|stream_ingest>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record-digests

--record-digests rewrites perfbench/digests.json from the current
program; do it only when an output change is intended.

The engine (src/main/scala) and the benchmark (perfbench/src) are
compiled together with the Scala compiler that ships in the Spark
distribution; no build tool and no network are needed. Classes, staged
inputs, Spark scratch space and traced-run artifacts all live under
.bench_build/ in the current directory. The last line of standard
output is the result JSON.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


JARS = os.path.join(spark_home(), "jars")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(out)


def spark_jars():
    return sorted(glob.glob(os.path.join(JARS, "*.jar")))


def build():
    """Compile engine + benchmark sources once per source tree."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        log("engine sources (src/main/scala) not found: run from the repository root")
        return False
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return True
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        log(f"Scala compiler jars not found under {JARS}")
        return False
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES, exist_ok=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log(f"compiling {len(srcs)} sources")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", ":".join(jars), "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        log("compilation failed")
        return False
    with open(STAMP, "w") as f:
        f.write(digest)
    return True


def java_cmd(main, args, heap="4g"):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: adaptive resizing made call times drift from run to run
    opts = ["-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = CLASSES + ":" + os.path.join(JARS, "*")
    return ["java"] + opts + ["-cp", cp, main] + args


def run(cmd, log_name):
    """Run the JVM; stderr goes to a log file, stdout is passed through."""
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    path = os.path.join(BUILD, "logs", log_name)
    with open(path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            lines = []
            for line in p.stdout:
                lines.append(line)
                sys.stdout.write(line)
                sys.stdout.flush()
            rc = p.wait()
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(path) as f:
            tail = f.readlines()[-40:]
        log(f"JVM exited with {rc}; last log lines:\n" + "".join(tail))
    return rc


def main():
    # a terminated runner must not leave a compiler or JVM behind: the
    # SystemExit unwinds through subprocess.run / run(), which kill it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if not (a.self_test or a.record_digests or a.workload):
        ap.error("--workload is required")
    if not build():
        return 2
    if a.self_test:
        return run(java_cmd("perfbench.SelfTest", [], heap="1g"), "selftest.log")
    if a.record_digests:
        return run(java_cmd("perfbench.Canary", [BUILD]), "digests.log")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--build-dir", BUILD]
    return run(java_cmd("perfbench.Main", args), f"{a.workload}.log")


if __name__ == "__main__":
    sys.exit(main())
