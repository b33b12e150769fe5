#!/usr/bin/env python3
"""Migrate / sync / curate benchmark of the graft Spark engine.

    python3 phasebench/run.py --workload migrate|sync|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark with sbt (phasebench/build.sbt) and a class-data-sharing archive
of their classes; later runs reuse both while the sources are unchanged.
Each run starts one JVM with a local[4] Spark session that generates its
inputs from the seed, measures for about S seconds and writes its result.
The script prints, as the last line of standard output, one JSON object
with the keys correct, attempted, failed and metrics. The line before it is
the run record: set-up, generation and warm-up times, host load and JVM
flags. See phasebench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
STAMP = os.path.join(TARGET, "sources.sha256")
BUILD_TIMEOUT_S = 420
TRAIN_TIMEOUT_S = 240
RUN_TIMEOUT_S = 170
# Pinned heap: every run uses the same -Xms/-Xmx.
HEAP = ["-Xms2g", "-Xmx2g"]
# The class-data-sharing archive must map: -Xshare:on fails the JVM instead
# of silently loading every class from the jars.
SHARE = ["-Xshare:on", "-XX:SharedArchiveFile=" + ARCHIVE]
# Spark on JDK 17 outside spark-submit needs these (the module options
# spark-submit would add).
OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def java_cmd(cp, work, *extra):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return [java] + HEAP + ["-XX:-UsePerfData"] + [
        x for o in OPENS for x in ("--add-opens", o)] + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.ui.enabled=false"] + list(extra) + ["-cp", cp]


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))


def fail(msg):
    print("phasebench: " + msg, file=sys.stderr)
    sys.exit(1)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group if the run times
    out or this script is stopped, and wait for it either way."""
    p = subprocess.Popen(cmd, start_new_session=True,
                         stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_build(log):
    """Compile the engine and the benchmark into jars; writes CLASSPATH."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        try:
            return run_child(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "writeClasspath"], BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                stdout=out, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            return -1


def train(cp, log):
    """Dump the class-data-sharing archive from one short cycle of every
    workload, so each run's JVM maps the classes instead of loading them."""
    work = os.path.join(BENCH, "work", "train-%d" % os.getpid())
    fresh_dir(work)
    try:
        with open(log, "a") as out:
            try:
                return run_child(
                    java_cmd(cp, work, "-XX:ArchiveClassesAtExit=" + ARCHIVE)
                    + ["phasebench.Main", "--train", work],
                    TRAIN_TIMEOUT_S, cwd=work, stdout=out,
                    stderr=subprocess.STDOUT)
            except subprocess.TimeoutExpired:
                return -1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build():
    """Build the engine, the benchmark and the class archive; return the
    runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("engine sources not found (%s); run from a full checkout"
                 % need)
    digest = source_digest()
    if all(os.path.exists(f) for f in (CLASSPATH, ARCHIVE, STAMP)):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    log = os.path.join(TARGET, "build.log")
    ok = sbt_build(log) == 0 and os.path.exists(CLASSPATH)
    if ok:
        with open(CLASSPATH) as fh:
            cp = fh.read().strip()
        ok = train(cp, log) == 0 and os.path.exists(ARCHIVE)
    if ok:
        # the archive maps with this classpath, or the build fails here
        # rather than every run later
        with open(log, "a") as out:
            ok = run_child(java_cmd(cp, TARGET, *SHARE) + ["-version"], 60,
                           stdout=out, stderr=subprocess.STDOUT) == 0
    if not ok:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed (log: %s)" % log)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return cp


def run_jvm(cmd, work):
    """Run the benchmark JVM in work; return its result file's content."""
    result_file = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            rc = run_child(cmd + ["--work", work, "--out", result_file],
                           RUN_TIMEOUT_S, cwd=work, stdout=out,
                           stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(result_file):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail("benchmark JVM failed (%s)" % rc)
    with open(result_file) as fh:
        return json.load(fh)


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["migrate", "sync", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a stop request unwinds through run_child, which kills the child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    work = os.path.join(BENCH, "work", "%s-%d" % (a.workload, os.getpid()))
    args = ["phasebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    cmd = java_cmd(cp, work, *SHARE) + args
    load_before = loadavg()
    fresh_dir(work)
    try:
        result = run_jvm(cmd, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = result.pop("record")
    record["loadavg_before"] = load_before
    record["loadavg_after"] = loadavg()
    record["nproc"] = os.cpu_count()
    record["heap_flags"] = HEAP
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
