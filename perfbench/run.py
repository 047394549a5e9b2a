#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness, then runs one
workload in one JVM and relays its output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. Everything it writes goes under
`.bench_build/` there. The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("topk_pagerank", "repo_pipeline")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opens (the same list the
# engine's own build passes to its forked JVMs).
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


def heap():
    """Half the machine's memory in whole GiB, clamped to 2..8 GiB: the rule
    the engine's test suite uses for SPARK_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def digest():
    """Hash of every input of the build, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties"))]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def classpath():
    stamp = os.path.join(OUT, "classpath.txt")
    want = digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            tag, cp = f.read().split("\n", 1)
        if tag == want:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true",
            f"-Dsbt.global.base={OUT}/sbt-global", f"-Djava.io.tmpdir={OUT}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    print("perfbench: building (sbt)", file=sys.stderr)
    code, out = run_bounded([sbt, "--batch", *opts, "export perfbench/Runtime/fullClasspath"],
                            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    if out:
        sys.stderr.write(out)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (exit {code})")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(f"{want}\n{cp}\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no engine source tree here ({need} is missing); run from the root of a checkout")
    if shutil.which("java") is None:
        die("java not found on PATH")

    os.makedirs(OUT, exist_ok=True)
    cp = classpath()
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    h = heap()
    # C1 only: with the default tiered JIT, C2 compiles on one to two cores
    # through a run's first passes, so a pass's time depended on how many
    # cores the shared machine left free (one busy core made it 38 % slower,
    # against 4 % with C1). C1 compiles in a fraction of that CPU, and
    # passes run at the same speed from the first one on.
    # Pre-touching the heap moves the first-touch page faults of the fresh
    # heap, which a pass otherwise takes as it allocates, into JVM start.
    jvm = [f"-Xms{h}", f"-Xmx{h}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-XX:+AlwaysPreTouch"]
    print(f"jvm {' '.join(jvm)}")
    cmd = ["java", *jvm,
           f"-Djava.io.tmpdir={work}/tmp",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores), "--work", work]
    if a.trace:
        cmd += ["--trace-out", os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    sys.stdout.flush()
    try:
        code, _ = run_bounded(cmd, RUN_TIMEOUT_S, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        die(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    sys.exit(code)


if __name__ == "__main__":
    main()
