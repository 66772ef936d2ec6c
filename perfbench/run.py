#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload forward --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) and caches the classpath under
.bench_build/perfbench/, keyed by a hash of every source and build file;
later runs launch the JVM directly.

    python3 perfbench/run.py --record

re-records expected/fingerprints.json: graft.Verify writes every listed
registry query's output as parquet, and the fingerprints of those outputs
are kept only if tools/check_oracle.py finds every output equal to its
DuckDB oracle.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
DATA = BENCH / "data" / "sf0.01"
EXPECTED = BENCH / "expected" / "fingerprints.json"
HEAP = "3g"
YOUNG = "768m"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash():
    """Hash of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if not f.is_file():
            fail(f"missing build input {f.relative_to(ROOT)}")
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    cached = OUT / f"classpath-{source_hash()}.txt"
    if cached.is_file():
        return cached.read_text().strip()
    try:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed")
    OUT.mkdir(parents=True, exist_ok=True)
    cached.write_text(lines[-1])
    return lines[-1]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def run_jvm(cp, work, main_args, main_class="graft.perfbench.Main", env=None):
    """Runs `main_class` in a fresh JVM; the benchmark's Main also gets the
    work, data and expected-fingerprint paths."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a fixed-size heap and young generation, so the resident set tracks
    # what the program keeps live rather than how the collector sized itself
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main_class]
    if main_class == "graft.perfbench.Main":
        cmd += ["--work", str(work), "--data", str(DATA),
                "--expected", str(EXPECTED)]
    cmd += main_args
    env = dict(os.environ, GRAFT_FIXTURES_DIR=str(ROOT / "fixtures"),
               PERFBENCH_SHA=git_sha(), **(env or {}))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out, err


def record(cp):
    work = OUT / "record"
    outputs = OUT / "record-outputs"
    code, names, err = run_jvm(cp, work, ["--list", "1"])
    if code != 0:
        sys.stderr.write(err[-4000:])
        fail("could not list the registry queries")
    names = names.strip()
    shutil.rmtree(outputs, ignore_errors=True)
    code, out, err = run_jvm(
        cp, work, [str(DATA), str(outputs)], main_class="graft.Verify",
        env={"SPARK_GRAFT_VERIFY_ONLY": names,
             "SPARK_GRAFT_CPUS": str(os.cpu_count())})
    failed = [l for l in err.splitlines() if l.startswith("[verify]")]
    if code != 0 or failed:
        sys.stderr.write("\n".join(failed) or err[-4000:])
        fail("graft.Verify failed")
    check = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_oracle.py"), str(DATA),
         str(outputs)], capture_output=True, text=True)
    print(check.stdout)
    if check.returncode != 0:
        fail("outputs differ from the DuckDB oracle; fingerprints not recorded")
    code, out, err = run_jvm(cp, work, ["--record", str(outputs)])
    if code != 0:
        sys.stderr.write(err[-4000:])
        fail("fingerprinting the recorded outputs failed")
    EXPECTED.parent.mkdir(exist_ok=True)
    shutil.copy(outputs / "fingerprints.json", EXPECTED)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(outputs, ignore_errors=True)
    print(f"recorded {len(names.split(','))} queries in {EXPECTED.relative_to(ROOT)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    cp = classpath()
    if a.record:
        return record(cp)
    if a.workload not in ("forward", "stream_gates", "batch_queries"):
        fail(f"unknown workload {a.workload!r}")
    work = OUT / "work"
    code, out, err = run_jvm(cp, work, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace])
    lines = out.splitlines()
    rec = [l for l in lines if l.startswith("perfbench-record ")]
    if code != 0 or not rec or not lines:
        sys.stderr.write(err[-6000:])
        fail(f"benchmark JVM exited with {code}")
    results = OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    stamp = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    (results / f"{stamp}.json").write_text(rec[-1][len("perfbench-record "):] + "\n")
    for spans in work.glob("spans-*.json"):
        shutil.move(str(spans), results / f"{stamp}-spans.json")
    for l in err.splitlines():
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    result = json.loads(lines[-1])
    print(rec[-1])
    print(lines[-1])
    if not result["correct"]:
        sys.exit(3)


if __name__ == "__main__":
    main()
