#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cotrip_etl --seed 1 --seconds 10 --trace 0

The first call in a checkout builds the program and the benchmark from
source with sbt (perfbench/build.sbt depends on the program's own build)
and caches the runtime classpath under perfbench/.build, keyed by a hash of
every source and build file. Later calls launch the JVM directly.

The JVM (perfbench.Main) runs the workload in one local[N] Spark session,
checks every job's output and prints, as its last stdout line, one JSON
object with the keys correct, attempted, failed and metrics. This script
forwards that line unchanged. Any build or run failure exits non-zero
without printing a result.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = HERE / ".build"
WORK_DIR = HERE / ".work"
HEAP, YOUNG = "3g", "1g"

WORKLOADS = ("cotrip_etl", "corpus_curate", "ingest_screen", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file() and p.suffix in (".sbt", ".properties", ".scala"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def build():
    """Return the runtime classpath, building first if any source changed."""
    BUILD_DIR.mkdir(exist_ok=True)
    cp_file, stamp_file = BUILD_DIR / "classpath.txt", BUILD_DIR / "stamp.txt"
    with open(BUILD_DIR / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
            return cp_file.read_text().strip(), stamp
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log = BUILD_DIR / "build.log"
        with open(log, "w") as err:
            try:
                out = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                    cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=err,
                    text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
            except FileNotFoundError:
                fail("sbt not found on PATH")
            except subprocess.TimeoutExpired:
                fail(f"build exceeded {BUILD_TIMEOUT_S}s; see {log}")
        lines = [l for l in out.stdout.splitlines() if l.strip()]
        if out.returncode != 0 or not lines or "classes" not in lines[-1]:
            sys.stderr.write(out.stdout[-4000:])
            fail(f"build failed (exit {out.returncode}); see {log}")
        cp = lines[-1].strip()
        cp_file.write_text(cp)
        stamp_file.write_text(stamp)
        return cp, stamp


def jvm_cmd(cp, work):
    """The benchmark JVM: perfbench.Main with its work directory."""
    return (["java"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            # fixed heap and young generation: VmHWM then follows the live
            # data, not the collector's adaptive sizing
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work / 'tmp'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + ["-cp", cp, "perfbench.Main", "--work", str(work), "--cores", str(os.cpu_count() or 1),
               "--expected", str(HERE / "expected" / "digests.txt")])


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expectation", action="store_true",
                    help="self-check: compare against a deliberately wrong expectation; "
                         "every job must then count as failed")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")

    cp, stamp = build()

    run_dir = WORK_DIR / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    results = WORK_DIR / "results"
    results.mkdir(parents=True, exist_ok=True)
    artifact = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    cmd = (jvm_cmd(cp, run_dir)
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--artifact", str(artifact),
              "--commit", git_commit(), "--source-stamp", stamp[:16]]
           + (["--corrupt-expectation"] if args.corrupt_expectation else []))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "tmp")
    log_path = run_dir.parent / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log_path}", 3)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out[-4000:])
        fail(f"run failed (exit {proc.returncode}); see {log_path}", 1)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
