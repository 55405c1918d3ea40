#!/usr/bin/env python3
"""Benchmark of the streaming scoring pipeline, from raw event files to sinks.

Usage, from the root of a checkout:

    python3 streambench/run.py --workload steady_stream --seed 1 --seconds 10 --trace 0

The first run builds the program and the harness from source with sbt
(offline) into `.bench_build/`; later runs reuse that build until a source
or build file changes. Each run then starts one JVM for the workload,
relays its stdout, and checks that the last line is the result object.
Everything the run writes stays under `.bench_build/` in the checkout.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("steady_stream", "catchup_drain", "dashboard")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the root build's run settings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"streambench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose content decides the build, in a stable order."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for d in (ROOT, HERE):
        files.append(os.path.join(d, "build.sbt"))
        proj = os.path.join(d, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in sorted(os.listdir(proj))
                      if n.endswith((".sbt", ".scala", ".properties"))]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and waited for, so no process outlives the run."""
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


def build():
    """Returns the harness's runtime classpath, building it if needed."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = fingerprint()
        if os.path.exists(stamp_file) and os.path.exists(cp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as c:
                        return c.read()
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
                f"-Djava.io.tmpdir={tmp}"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env.setdefault("SBT_OPTS", " ".join(opts))
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if code != 0:
            sys.stderr.write((out or "")[-4000:])
            fail(3, "build failed" if code is not None else "build timed out")
        lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
        if not lines:
            sys.stderr.write(out[-4000:])
            fail(3, "build printed no classpath")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def main():
    # a terminated run still stops its JVM or build (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail(2, "--seconds must be at least 1")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail(2, "the program's sources (src/main/scala, build.sbt) are not "
                "next to the benchmark; run it from the root of a checkout")
    cp = build()

    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # A run lives under a minute. Lower JIT thresholds let hot code reach
    # its compiled tiers during the set-ups, not the measured pass; a fixed
    # set of compiler threads lets the harness leave their CPU out.
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-XX:CompileThresholdScaling=0.1"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "streambench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--trace-dir", os.path.join(BUILD, "traces")]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                              stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(4, f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(5, f"run exited with code {code}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        fail(5, "run printed no result line")
    for l in lines:
        print(l)


if __name__ == "__main__":
    main()
