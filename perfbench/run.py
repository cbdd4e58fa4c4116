#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload kg_maintain --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py summarize .bench_build/runs/<run>.spans.jsonl

Run from the repository root. The first call builds the engine and the
benchmark from source with sbt into .bench_build/ (about a minute); later
calls reuse that build while the sources are unchanged. The last line of
standard output is the result JSON; the run's environment record and
result are also written to .bench_build/runs/.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
            os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx3g"
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env.setdefault("SBT_OPTS", opts)
    return env


def ensure_built():
    """Build once per source state; the stamp records what was built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources at src/main/scala/graft; run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_hash()
        if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
            with open(STAMP) as fh:
                if fh.read().strip() == digest:
                    return
        print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
        try:
            out = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        lines = [l for l in out.stdout.splitlines() if l.strip()]
        sys.stderr.write("\n".join(lines[-5:-1]) + "\n")
        if out.returncode != 0 or not lines or "[error]" in out.stdout:
            fail(f"build failed (sbt exit {out.returncode})")
        cp = lines[-1].strip()
        if os.pathsep not in cp and not cp.endswith(".jar"):
            fail("build did not report a classpath")
        with open(CLASSPATH, "w") as fh:
            fh.write(cp)
        with open(STAMP, "w") as fh:
            fh.write(digest)


def commit_id():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-" + source_hash()[:16]


def run_java(main, args, tmp):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    env = dict(os.environ)
    env["PERFBENCH_COMMIT"] = commit_id()
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, main, *args]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    if len(sys.argv) == 3 and sys.argv[1] == "summarize":
        ensure_built()
        code, out = run_java("perfbench.Summary", [sys.argv[2]], os.path.join(BUILD, "tmp"))
        sys.stdout.write(out)
        sys.exit(code)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(BENCH, "workloads.json")):
        fail("perfbench/workloads.json not found; run from the repository root")
    ensure_built()
    run_dir = os.path.join(BUILD, "scratch", f"{a.workload}-{os.getpid()}")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    try:
        code, out = run_java("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--spark-local", local, "--scratch", run_dir], tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"workload {a.workload} failed (exit {code})")
    sys.stderr.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    print(lines[-1])


if __name__ == "__main__":
    main()
