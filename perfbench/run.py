#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog|registry_small --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) and caches the classpath
under .perfbench/build, keyed by a hash of every source file; later runs
start the JVM directly. The harness prints a report line and, as the last
line of stdout, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. Exits non-zero without a result when the engine sources are
missing, the build fails, or the run fails or overruns.
"""
import argparse
import fcntl
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
WORK = ROOT / ".perfbench"
BUILD = WORK / "build"
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main", BENCH / "project"]
    files = [BENCH / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def git_sha():
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def spark_home():
    """A Spark distribution (RELEASE file and jars/) whose spark-submit is on
    PATH; pip-installed pyspark wrappers are skipped."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = Path(d) / "spark-submit"
        if exe.exists():
            home = exe.resolve().parent.parent
            if (home / "RELEASE").exists() and (home / "jars").is_dir():
                return str(home)
    log("SPARK_HOME is not set and no Spark distribution is on PATH")
    sys.exit(1)


def build(sha):
    """Compile with sbt unless the cached classpath matches the sources."""
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "source.sha"
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if cp_file.exists() and stamp.exists() and stamp.read_text() == sha:
            return cp_file.read_text().strip()
        log("building engine and harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SPARK_HOME" not in env:
            env["SPARK_HOME"] = spark_home()
        env["SBT_OPTS"] = " ".join([
            "-Dsbt.override.build.repos=true",
            f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
            "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True)
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        lines = [l for l in out.stdout.splitlines() if "perfbench/target" in l and ":" in l]
        if out.returncode != 0 or not lines:
            log(f"build failed (sbt exit {out.returncode})")
            sys.exit(1)
        cp_file.write_text(lines[-1].strip())
        stamp.write_text(sha)
        return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"engine sources not found under {ROOT / 'src'}; nothing to benchmark")
        sys.exit(2)
    sha = source_sha()
    cp = build(sha)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # fixed heap and young generation: G1's adaptive sizing made GC
           # counts, heap peaks and timings differ from run to run
           + ["-Xms3g", "-Xmx3g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(WORK), "--golden", str(BENCH / "golden")])
    env = dict(os.environ, PERFBENCH_SOURCE_SHA=sha, PERFBENCH_GIT_SHA=git_sha())
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(1)
    lines = stdout.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(stdout)
        log(f"no result line (exit {proc.returncode})")
        sys.exit(1)
    if proc.returncode != 0:
        log(f"harness exited {proc.returncode}")
        sys.exit(1)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
