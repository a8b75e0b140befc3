#!/usr/bin/env python3
"""The repository's benchmark: index build, append and HTTP serving on a
seeded, code-shaped corpus.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the program and the
benchmark with the Scala compiler that ships in $SPARK_HOME/jars, and its JVM
records a class-data-sharing archive as it exits, which halves JVM and Spark
start-up for later runs (all under .bench_build/). Both are reused while the
sources are unchanged.

A run is one fresh JVM (see perfbench/src/perfbench/Main.scala) that writes
the corpus, builds and appends at local[4], builds again at local[1], then
sets up serving and serves at local[4]. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The line
before it holds the machine fingerprint, the query-term document frequencies,
the rare-term share and sample counts. Raw measurements and spans are kept in
.bench_build/results/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# workload -> closed-loop HTTP clients. Both run the same build phase; they
# differ in serving concurrency only. HttpServe answers on one dispatcher
# thread, so with two clients one request always waits, behind a known other
# one; more clients would only make the order in which waiting requests are
# served, and so the latencies, vary from run to run.
WORKLOADS = {"serve": 1, "serve_concurrent": 2}
DOCS = 2000             # base corpus; the delta is DOCS / 8 more
MIN_REQUESTS = 20       # so that p50 has >= 10 samples beyond it
JVM_TIMEOUT = 170
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        fail("no program sources under src/main/scala; run from a full checkout")
    if not own:
        fail("no benchmark sources under perfbench/src")
    return prog + own


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail("no Spark jars: set SPARK_HOME to a Spark 4 installation")
    return jars


def jvm(classpath, archive, args, log, timeout):
    """Run one benchmark JVM to completion; its output goes to `log`. While
    there is no class-data-sharing archive yet, this JVM writes one."""
    dump = "%s.%d" % (archive, os.getpid())
    cds = ("-XX:SharedArchiveFile=" + archive if os.path.exists(archive)
           else "-XX:ArchiveClassesAtExit=" + dump)
    tmp = os.path.join(os.path.dirname(log), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] + [
        "-Xmx3g", "-XX:+UnlockDiagnosticVMOptions",
        "-XX:GCLockerRetryAllocationCount=64", "-XX:-UsePerfData", cds,
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
        "-cp", classpath, "perfbench.Main"] + args
    with open(log, "ab") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=os.path.dirname(log), start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if os.path.exists(dump):
        os.replace(dump, archive)
    if code != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError("JVM exited %d:\n%s" % (code, tail))


def jvm_args(seed, seconds, trace, rundir, out, clients):
    return ["--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--dir", rundir, "--out", out,
            "--docs", str(DOCS), "--clients", str(clients),
            "--min-requests", str(MIN_REQUESTS)]


def build():
    """Compile once per source tree; returns the classpath and the path of
    the class-data-sharing archive."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    out = os.path.join(BUILD, "app-" + h.hexdigest()[:16])
    app = os.path.join(out, "app.jar")
    archive = os.path.join(out, "app.jsa")
    classpath = ":".join([app] + jars)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "ok")):
            return classpath, archive
        shutil.rmtree(out, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        subprocess.run(["java", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", ":".join(jars)] + srcs,
                       check=True, stdout=sys.stderr, timeout=600)
        with zipfile.ZipFile(app, "w", zipfile.ZIP_DEFLATED) as z:
            for dirpath, _, names in os.walk(classes):
                for n in names:
                    p = os.path.join(dirpath, n)
                    z.write(p, os.path.relpath(p, classes))
        shutil.rmtree(classes)
        open(os.path.join(out, "ok"), "w").close()
    return classpath, archive


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath, archive = build()
    name = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    rundir = os.path.join(BUILD, "runs", name)
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        out = os.path.join(rundir, "out.json")
        jvm(classpath, archive,
            jvm_args(a.seed, a.seconds, a.trace, rundir, out, WORKLOADS[a.workload]),
            os.path.join(rundir, "jvm.log"), JVM_TIMEOUT)
        with open(out) as f:
            raw = json.load(f)
    except (RuntimeError, subprocess.SubprocessError, OSError, ValueError) as e:
        print("perfbench: run failed: %s" % e, file=sys.stderr)
        sys.exit(1)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    result, detail = stats.summarize(raw, a.trace == 1)
    detail.update(workload=a.workload, seed=a.seed, trace=a.trace)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", name + ".json"), "w") as f:
        json.dump({"result": result, "detail": detail, "raw": raw}, f)
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
