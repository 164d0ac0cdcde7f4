#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the engine's main
sources together with the harness (sbt, offline) into perfbench/target; later
runs reuse that build until a source file changes. Each run starts one JVM,
which prints a human-readable summary and, as its last line, the JSON result.
Scratch data goes to perfbench/target/work/<pid> and is deleted afterwards;
traces of --trace 1 runs stay in perfbench/target/traces.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["nightly_batch", "table_serving"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (same list as the engine build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; concurrent runs wait on one lock."""
    os.makedirs(TARGET, exist_ok=True)
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    with open(os.path.join(TARGET, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = source_hash()
        if os.path.exists(cp_file) and os.path.exists(stamp):
            with open(stamp) as fh:
                if fh.read().strip() == want:
                    return cp_file
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
        print("perfbench: building (sbt compile)", file=sys.stderr)
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                               cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        if r.returncode != 0 or not os.path.exists(cp_file):
            fail(f"build failed (sbt exit {r.returncode})")
        with open(stamp, "w") as fh:
            fh.write(want)
        return cp_file


def java_cmd(cp_file, work, args):
    with open(cp_file) as fh:
        cp = fh.read().strip()
    # a fixed heap: no resizing between the passes a run compares
    heap = heap_size()
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main", "--work", work, "--out", TARGET] + args


def fresh_work():
    work = os.path.join(TARGET, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def run_jvm(cmd, work, timeout, stdout):
    """Run the JVM in its own process group inside `work`, so relative
    paths land there; kill the group on timeout or interruption."""
    proc = subprocess.Popen(cmd, cwd=work, stdout=stdout, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out, proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run timed out", file=sys.stderr)
        return b"", 3
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)


def heap_size():
    """Half the machine's memory, between 2 and 3 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{max(2048, min(3072, kb // 2048))}m"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    # a terminated run must still stop its JVM (run_jvm cleans up on any exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a full checkout")
    cp_file = build()
    work = fresh_work()
    cmd = java_cmd(cp_file, work, ["--workload", a.workload, "--seed", str(a.seed),
                                          "--seconds", str(a.seconds), "--trace", str(a.trace)])
    out, code = run_jvm(cmd, work, RUN_TIMEOUT_S, subprocess.PIPE)
    text = out.decode("utf-8", "replace").rstrip("\n")
    if text:
        print(text)
    sys.exit(code if code else 0)


if __name__ == "__main__":
    main()
