#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 xlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt the first time (and
whenever a source file changes), clears the program's scratch directories,
then runs the harness JVM. The harness prints progress lines and, as the
last line, one JSON object {correct, attempted, failed, metrics}; this
script relays its output and exit code.

Everything the run writes stays inside the checkout: the JVM runs in a
private mount namespace where /tmp is the checkout's xlbench/.work/tmp, so
the program's fixed /tmp scratch paths land there too. Where namespaces
are unavailable the script runs the JVM directly and removes the
program's /tmp scratch directories before and after the run instead.

    python3 xlbench/run.py --make-goldens   # rewrite xlbench/goldens.tsv
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CLASSPATH = BENCH / "target" / "classpath.txt"
STAMP = BENCH / "target" / "source-stamp.txt"
GOLDENS = BENCH / "goldens.tsv"
PROGRAM_SCRATCH = ["graft_llm", "graft_scale", "graft_sources", "graft_fuzz_xlsx"]
RUN_TIMEOUT_S = 170
GOLDENS_TIMEOUT_S = 1800
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of the names, sizes and mtimes of every build input."""
    h = hashlib.sha256()
    inputs = [ROOT / "src" / "main", BENCH / "src" / "main", BENCH / "build.sbt",
              BENCH / "project" / "build.properties"]
    for base in inputs:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + str(Path.home() / ".sbt" / "repositories")
        + " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "exportClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    if wait(proc, BUILD_TIMEOUT_S) != 0 or not CLASSPATH.is_file():
        sys.exit("build failed")
    STAMP.write_text(stamp)


def kill(proc, timeout):
    log(f"timed out after {timeout} s; stopping")
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def wait(proc, timeout):
    """Wait for `proc`, killing its whole process group after `timeout`
    seconds; returns the exit code (negative when killed)."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill(proc, timeout)
        return proc.wait()


def namespace_ok():
    """Whether a private mount namespace with a bind-mounted /tmp works here."""
    if not shutil.which("unshare"):
        return False
    probe = WORK / "tmp"
    probe.mkdir(parents=True, exist_ok=True)
    r = subprocess.run(["unshare", "-Urm", "sh", "-c", 'mount --bind "$1" /tmp', "sh", str(probe)],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return r.returncode == 0


def clear_host_scratch():
    for d in PROGRAM_SCRATCH:
        shutil.rmtree(Path("/tmp") / d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--make-goldens", action="store_true")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("program sources not found: run from a full checkout")
    if not a.make_goldens and not a.workload:
        sys.exit("--workload is required")

    build()
    # a clean slate per run: inputs, databases, Spark scratch, program scratch
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    isolated = namespace_ok()
    if not isolated:
        log("no private mount namespace; clearing the program's /tmp scratch instead")
        clear_host_scratch()

    java = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={WORK / 'spark-local'}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java += ["-cp", CLASSPATH.read_text().strip(), "xlbench.Main",
             "--work", str(WORK), "--goldens", str(GOLDENS)]
    if a.make_goldens:
        java += ["--make-goldens", "1"]
    else:
        java += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", a.trace]
    cmd = (["unshare", "-Urm", "sh", "-c", 'mount --bind "$1" /tmp && shift && exec "$@"', "sh", str(tmp)]
           + java) if isolated else java
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "4"),
               SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timeout = GOLDENS_TIMEOUT_S if a.make_goldens else RUN_TIMEOUT_S
    watchdog = threading.Timer(timeout, kill, (proc, timeout))
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        watchdog.cancel()
    if not isolated:
        clear_host_scratch()
    if code != 0:
        sys.exit(code if code > 0 else 1)
    if not a.make_goldens and not (last and last.startswith("{")):
        sys.exit("harness printed no result")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
