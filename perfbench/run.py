#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <interactive|nightly|pruned_dense> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine's main sources together
with the benchmark's own (sbt, offline, everything under .bench_build/),
runs one workload in one JVM and prints its result as the last line of
standard output. See perfbench/README.md.

The build ends with a training run that writes a class-data archive
(.bench_build/classes.jsa): the set-up of both workloads, with the JVM
dumping the classes it loaded at exit. Every run maps that archive: on a
4-core host, the JVM and Spark start of one nightly run went from 9.0 s
to 3.1 s with it, and its input set-up from 11.2 s to 6.1 s. Without a
usable archive the JVM loads classes from the jars as usual.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("interactive", "nightly", "pruned_dense")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240
ARCHIVE = os.path.join(BUILD, "classes.jsa")

# The engine's runtime flags, as its own build forks them (build.sbt).
JVM_FLAGS = [
    "-Xmx3g",
    "-XX:-DontCompileHugeMethods",
    "-Dspark.sql.codegen.methodSplitThreshold=256",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:+UseCodeCacheFlushing",
] + [flag for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
) for flag in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    # build.sbt and this file: the build, and the flags the archive is made with
    for f in ("build.sbt", "run.py"):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        # resolve from the same repositories (and so the same offline cache)
        # as the engine's own build
        opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = " ".join([
        opts, "-Dsbt.offline=true", "-Xmx2g",
        "-Djava.io.tmpdir=" + tmp,
        "-Dsbt.global.base=" + os.path.join(BUILD, "sbt", "global"),
        "-Dsbt.boot.directory=" + os.path.join(BUILD, "sbt", "boot"),
        "-Dsbt.ivy.home=" + os.path.join(BUILD, "sbt", "ivy"),
    ])
    try:
        out = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]"))[-4000:] + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    train(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java(cp, work, workload, seed, seconds, trace, extra=()):
    return ["java"] + JVM_FLAGS + list(extra) + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--traces", os.path.join(BUILD, "traces")]


def train(cp):
    """Writes the class-data archive from one run of both workloads' set-up."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "work", "train-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    cmd = java(cp, work, "train", 0, 0, 0, ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    try:
        with open(os.path.join(BUILD, "logs", "train.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=log, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=TRAIN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = -1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("no engine sources at src/main/scala/graft; run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()

    work = os.path.join(BUILD, "work", "%s-%d" % (args.workload, os.getpid()))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "%s-%d-%d.log" % (args.workload, args.seed, args.trace))
    extra = ["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else []
    cmd = java(cp, work, args.workload, args.seed, args.seconds, args.trace, extra)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("run exceeded %d s; log in %s" % (RUN_TIMEOUT_S, log_path))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("run failed with exit code %d" % proc.returncode)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
