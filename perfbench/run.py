#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload crawl_drain --seed 1 --seconds 10 --trace 0

Run from the repository root. The program's sources (src/main/scala) and the
benchmark's (perfbench/src) are compiled with the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars, else the directory build.sbt names
as unmanagedBase) into the build directory ($CARGO_TARGET_DIR, default
.bench_build); a build is reused while no source changes. The benchmark then runs in a plain `java` process.
The last line of standard output is the result as one JSON object.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("crawl_drain", "corpus_ops")
RUN_LIMIT_S = 170  # the JVM's share of one run's time limit
HEAP = "3g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars directory: set SPARK_HOME")


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        fail(f"compilation into {out} failed")


def jar(classes, out):
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def java_cmd(build_dir, jars, archive, work, main_args):
    """The benchmark JVM, run in `work`. `archive` is "dump" while the
    build writes the class-data archive, otherwise the archive is used
    when present."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jsa = os.path.join(build_dir, "classes.jsa")
    if archive == "dump":
        share = [f"-XX:ArchiveClassesAtExit={jsa}"]
    else:
        share = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    cp = os.pathsep.join([os.path.join(build_dir, "bench.jar"),
                          os.path.join(build_dir, "program.jar"), jars])
    return (["java"] + opens + share +
            [f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
             # C1 alone defaults to a 48 MB code cache, which a run fills in
             # about 30 s; the JVM then stops compiling for good
             "-XX:ReservedCodeCacheSize=512m", "-Xss4m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", cp, "perfbench.Main", "--work", work] + main_args)


def build(build_dir, jars):
    """Compile program and benchmark unless the sources are unchanged."""
    prog_files = scala_files(PROGRAM_SRC)
    bench_files = scala_files(BENCH_SRC)
    if not prog_files:
        fail(f"no program sources under {PROGRAM_SRC}")
    if not bench_files:
        fail(f"no benchmark sources under {BENCH_SRC}")
    os.makedirs(build_dir, exist_ok=True)
    prog_out = os.path.join(build_dir, "program-classes")
    bench_out = os.path.join(build_dir, "bench-classes")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_path = os.path.join(build_dir, "stamp")
        prog_sum = digest(prog_files, jars)
        bench_sum = digest(bench_files + [os.path.abspath(__file__)], prog_sum)
        old = open(stamp_path).read().split() if os.path.exists(stamp_path) else []
        if old[:1] != [prog_sum]:
            scalac(jars, jars, prog_out, prog_files)
            old = [prog_sum]
            with open(stamp_path, "w") as fh:
                fh.write(prog_sum + "\n")
        if old[1:2] != [bench_sum]:
            scalac(jars, prog_out + os.pathsep + jars, bench_out, bench_files)
            jar(prog_out, os.path.join(build_dir, "program.jar"))
            jar(bench_out, os.path.join(build_dir, "bench.jar"))
            # class-data archive of the classes a run loads: shortens JVM
            # and Spark start-up; a failed dump only leaves it out
            jsa = os.path.join(build_dir, "classes.jsa")
            if os.path.exists(jsa):
                os.remove(jsa)
            work = os.path.join(build_dir, "work", f"class-list-{os.getpid()}")
            os.makedirs(os.path.join(work, "tmp"))
            r = subprocess.run(
                java_cmd(build_dir, jars, "dump", work, [
                    "--workload", "class-list", "--seed", "0", "--seconds", "0",
                    "--trace", "0"]),
                cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            shutil.rmtree(work, ignore_errors=True)
            if r.returncode != 0 and os.path.exists(jsa):
                os.remove(jsa)
            with open(stamp_path, "w") as fh:
                fh.write(prog_sum + "\n" + bench_sum + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    jars = os.path.join(spark_jars(), "*")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    build(build_dir, jars)

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(build_dir, "traces")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    cmd = java_cmd(build_dir, jars, "use", work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace,
        "--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json"),
    ])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S}s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark exited with {proc.returncode}")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0 if result.get("correct") else 1


if __name__ == "__main__":
    sys.exit(main())
