#!/usr/bin/env python3
"""Run one workload of the graft engine benchmark.

    python3 perfbench/run.py --workload audit --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the benchmark
(perfbench/build.sbt, which depends on the engine build in the checkout root)
with sbt and caches the classpath under perfbench/.build; later runs reuse
it while the sources are unchanged. Each run then starts one JVM with
local[<cpus>] Spark, where cpus is one less than the size of the CPU affinity
mask (what `nproc` reports), at least 1, and the heap is half of MemTotal,
clamped to 2-8 GB. Inputs, sinks, checkpoints and Spark scratch live in a
per-run directory under perfbench/.work that is deleted when the run ends.
The last stdout line is the result object; see perfbench/README.md.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORKLOADS = ("audit", "corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the engine build
# passes the same list to its forked JVMs).
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


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and always wait for it, so no process outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "src")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build the benchmark if its sources changed; return its classpath."""
    fp = fingerprint()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    fp_file = os.path.join(BUILD_DIR, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config="
        + os.path.expanduser(os.path.join("~", ".sbt", "repositories")),
        "-Dsbt.offline=true", "-Xmx3g"]))
    print("perfbench: building (sbt compile)", file=sys.stderr)
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    text = out.decode("utf-8", "replace")
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as fh:
        fh.write(text)
    lines = [ln.strip() for ln in text.splitlines()
             if ln.strip() and not ln.startswith("[")]
    if rc != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(text[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {BUILD_DIR}/build.log")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(fp_file, "w") as fh:
        fh.write(fp)
    return lines[-1]


def task_threads():
    """One Spark task thread per CPU of the affinity mask (what `nproc`
    prints) but one: that CPU is left to the driver, JIT and GC threads,
    which otherwise compete with the tasks and make op times depend on how
    the scheduler interleaves them."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def host_heap():
    """Half of MemTotal in whole GB, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            for ln in fh:
                if ln.startswith("MemTotal:"):
                    g = int(ln.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def remove_stale_work():
    """Delete work directories left by runs that were killed: each is named
    after its run's pid, and a directory whose pid is gone is stale."""
    root = os.path.join(HERE, ".work")
    for name in os.listdir(root) if os.path.isdir(root) else []:
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala",
                                           "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not "
             "next to perfbench/; run from a full checkout")

    cp = classpath()
    cpus, heap = task_threads(), host_heap()
    remove_stale_work()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    spans = os.path.join(HERE, ".results",
                         f"spans_{a.workload}_seed{a.seed}.jsonl")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--cpus", str(cpus), "--heap", heap, "--work", work,
            "--spans", spans]
    sys.stdout.flush()
    try:
        rc, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                          stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    sys.exit(rc)


if __name__ == "__main__":
    main()
