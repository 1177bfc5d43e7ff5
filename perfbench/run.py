#!/usr/bin/env python3
"""graft benchmark: the App path (backfill and incremental refresh) and the
curation query battery, run through graft's public functions on local Spark.

Run from the repository root:

    python3 perfbench/run.py --workload app --seed 1 --seconds 12 --trace 0

The first run compiles graft (src/main/scala) together with the benchmark's
own Scala sources (perfbench/scala) with the Scala compiler that ships in the
Spark distribution's jars; later runs reuse the classes while the sources are
unchanged. The inputs are made from perfbench/data (tables cut from graft's
sf0.1 testdata) and the seed; everything the benchmark builds, generates and
traces goes under .bench_build/ in the repository root. The last line of standard output is
one JSON object: correct, attempted, failed and metrics.

    python3 perfbench/run.py --selftest

checks that every output check rejects a deliberately wrong output.
"""

import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected_curation.json")
WORKLOADS = ("app", "curation")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    graft = sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"),
                             recursive=True))
    if not graft:
        fail("graft sources (src/main/scala) not found; run from the repository root")
    own = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    return graft + own


def build(jars):
    """Compile graft and the benchmark into .bench_build/classes unless the
    classes already match the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [j for n in ("compiler", "library", "reflect")
                for j in glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(jars, "*"), "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true",
                    help="curation only: write the expected query checksums")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    build(jars)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # work directories left by runs that were killed (the pid is the suffix)
    for stale in glob.glob(os.path.join(BUILD, "work-*")) + \
            glob.glob(os.path.join(BUILD, "selftest-*")):
        if not pid_alive(int(stale.rsplit("-", 1)[1])):
            shutil.rmtree(stale, ignore_errors=True)

    args = ["--root", BUILD, "--data", DATA]
    if a.selftest:
        args += ["--selftest", "--seed", str(a.seed)]
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--expected", EXPECTED]
        if a.record:
            args += ["--record", EXPECTED]
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")] +
           [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]),
            "perfbench.Main"] + args)
    # set-ups, warm-up and checks take up to ~110 s on a loaded 4-core host
    timeout = 110 + 3 * a.seconds
    proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 and not (lines and lines[-1].startswith('{"correct"')):
        fail(f"benchmark exited with code {proc.returncode}")
    if lines:
        print(lines[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
