#!/usr/bin/env python3
"""Run one benchmark workload: build if needed, then one JVM on local[N].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine sources together with the
benchmark (sbt, project in perfbench/) into .bench_build/; later runs reuse
that build until a source file changes. The JVM's stdout is passed
through; its last line, one JSON object, is printed last. The exit code is
non-zero when a correctness check failed, the build failed, or the engine
sources are missing.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt if the sources changed; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep the build JVM's temp and perf-data files inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_OPTS"] = (env.get("JAVA_OPTS", "") +
                        f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(1, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log_path}", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH", 2)

    cp_before = os.path.exists(os.path.join(BUILD, "classpath"))
    classpath = build(start + 880)
    # a run that had to build may use the first-run allowance
    deadline = (start + 880) if not cp_before else (start + 175)

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # The serial collector with a fixed young generation grows the heap by
    # its free ratio after each collection, so the peak RSS follows the
    # live data. G1's default sizing follows the share of time spent in GC
    # instead, so on a shared host VmHWM followed the host's speed and
    # spread by up to a quarter of its median across runs of the same code.
    cmd = (["java", "-Xmx2g", "-XX:+UseSerialGC", "-Xmn256m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--traces", os.path.join(BUILD, "traces")])
    result = None
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, bufsize=1)
    watchdog = threading.Timer(max(1, deadline - time.time()), proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{") and line.endswith("}"):
                result = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if time.time() >= deadline:
        fail("benchmark JVM ran past its time limit", 4)
    if result is None:
        fail(f"benchmark JVM exited {proc.returncode} without a result", 5)
    parsed = json.loads(result)
    print(result, flush=True)
    sys.exit(0 if proc.returncode == 0 and parsed.get("correct") else 1)


if __name__ == "__main__":
    main()
