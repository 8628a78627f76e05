#!/usr/bin/env python3
"""Benchmark entry point for the graft MVT engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tile_builds --seed 42 --seconds 12 --trace 0

It compiles the engine's sources together with the harness in
perfbench/src (sbt, offline) and records a class-data-sharing archive,
once per source tree, then runs one
workload in a fresh JVM on a Spark session of `nproc` task threads and
prints the harness's output; the last line is the JSON result. Build
outputs and the workloads' inputs and outputs stay under .bench_build/
in the checkout; Spark's shuffle and spill files go where the engine's
session puts them (spark.local.dir in graft.Main.session).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("tile_builds", "spatial_queries")
RUN_LIMIT_S = 180
BUILD_RUN_LIMIT_S = 900
MARGIN_S = 8
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_cmd():
    return str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"


def source_stamp(root):
    """Hash of every file the build reads from the checkout and of the
    JVM's version, which the class-data-sharing archive depends on."""
    h = hashlib.sha256()
    version = subprocess.run([java_cmd(), "-version"], capture_output=True, text=True)
    h.update(version.stderr.encode())
    files = [root / "build.sbt", root / "perfbench" / "build.sbt",
             root / "perfbench" / "project" / "build.properties"]
    for d in (root / "src" / "main", root / "perfbench" / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def jvm(classpath, work, *flags):
    """The java command line and environment of one harness JVM."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    # the session is exactly Main.session(nproc) on local threads: no
    # master or local-dir override from the caller's environment
    env.pop("SPARK_GRAFT_MASTER", None)
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = [java_cmd(), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Xlog:disable", "-Xlog:all=warning:stderr", *flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Bench",
            "--work", str(work / "data"), "--cpus", str(len(os.sched_getaffinity(0)))]
    return cmd, env


def build(root, build_dir, timeout):
    """Compiles engine + harness into jars and records a class-data-sharing
    archive of one set-up and rep of every workload, which cuts JVM and
    session start-up. Returns the runtime classpath and whether it built.
    """
    stamp = source_stamp(root)
    stamp_file, cp_file = build_dir / "stamp", build_dir / "classpath"
    archive = build_dir / "classes.jsa"
    if stamp_file.exists() and cp_file.exists() and archive.is_file() \
            and stamp_file.read_text() == stamp:
        classpath = cp_file.read_text().strip()
        # the jars live in perfbench/target, outside the build directory
        if all(Path(p).is_file() for p in classpath.split(os.pathsep)):
            return classpath, False
    deadline = time.monotonic() + timeout
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                   f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}")
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    try:
        code, out = run_killable(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            timeout, cwd=root / "perfbench", env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {timeout} s")
    (build_dir / "build.log").write_text(out)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {code}); see {build_dir / 'build.log'}")
    classpath = lines[-1]
    archive.unlink(missing_ok=True)
    print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
    work = build_dir / "work" / "train"
    shutil.rmtree(work, ignore_errors=True)
    cmd, jenv = jvm(classpath, work, f"-XX:ArchiveClassesAtExit={archive}")
    try:
        code, _ = run_killable(cmd + ["--train", "1"], max(1, deadline - time.monotonic()),
                               cwd=work, env=jenv, stdout=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not archive.is_file():
        # every run starts from the archive, so that set-up time always
        # measures the same start-up path
        archive.unlink(missing_ok=True)
        fail(f"recording the class-data-sharing archive failed (exit {code})")
    cp_file.write_text(classpath)
    stamp_file.write_text(stamp)
    return classpath, True


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft" / "Main.scala").is_file():
        fail("run from the root of a graft checkout: src/main/scala/graft/Main.scala is missing")
    if not (root / "perfbench" / "build.sbt").is_file():
        fail("perfbench/build.sbt is missing")

    build_dir = root / ".bench_build"
    classpath, built = build(root, build_dir,
                             BUILD_RUN_LIMIT_S - RUN_LIMIT_S - MARGIN_S)
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - MARGIN_S
    remaining = limit - (time.monotonic() - start)

    work = build_dir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    # -Xshare:on: the JVM exits instead of starting without the archive
    cmd, env = jvm(classpath, work, "-Xshare:on",
                   f"-XX:SharedArchiveFile={build_dir / 'classes.jsa'}")
    cmd += ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    try:
        code, out = run_killable(cmd, remaining, cwd=work, env=env,
                                 stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {limit} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"the harness printed no result (exit {code})")
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
