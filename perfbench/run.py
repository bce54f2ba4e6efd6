#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload ingest|surql|registry \
        --seed N --seconds S --trace 0|1 [--results DIR]

Run from the repository root. The first call builds the program and
the benchmark together from source (sbt, offline) into .bench_build/;
later calls reuse the build while no source file has changed. The
workload then runs in one JVM at local[N], N = the CPUs this process
may use. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics; a full artifact (every
sample, span and counter) goes to DIR/<workload>-s<seed>-t<trace>.json
(default .bench_build/results). See perfbench/README.md.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("ingest", "surql", "registry")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, capture_err=False):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it. Returns (exit code or None, stdout, stderr)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE if capture_err else None,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
        return proc.returncode, out, err or ""
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, "", ""
    finally:
        # nothing the command started may outlive this call
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def build():
    """Compile with sbt when any source changed; return the classpath."""
    stamp = BUILD / "build.json"
    fp = fingerprint()
    if stamp.exists():
        got = json.loads(stamp.read_text())
        if got.get("fingerprint") == fp and all(
                Path(p).exists() for p in got["classpath"].split(os.pathsep)):
            return got["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Xmx2g", "-Dsbt.server.autostart=false"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], HERE, env, BUILD_TIMEOUT_S, capture_err=True)
    if code is None:
        fail("build timed out", 3)
    if code != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed", 3)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath", 3)
    cp = lines[-1].strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": cp,
                                 "build_s": time.time() - t0}))
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=str(BUILD / "results"))
    ap.add_argument("--record", default=None,
                    help="registry only: write goldens and Verify-layout results here")
    a = ap.parse_args()

    if not PROGRAM_SRC.is_dir():
        fail(f"program sources not found at {PROGRAM_SRC}", 2)
    cp = build()

    cores = len(os.sched_getaffinity(0))
    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    results = Path(a.results)
    results.mkdir(parents=True, exist_ok=True)
    artifact = results / f"{a.workload}-s{a.seed}-t{a.trace}.json"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--work", str(work),
              "--data", str(HERE / "data"), "--artifact", str(artifact)]
           + (["--record", str(Path(a.record).resolve())] if a.record else []))
    code, out, _ = run_group(cmd, ROOT, None, RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    if code != 0:
        fail(f"{a.workload} exited with code {code}", 5)
    if a.record:
        return
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("no result line", 6)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
