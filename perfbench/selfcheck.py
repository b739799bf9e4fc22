#!/usr/bin/env python3
"""Self-checks of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selfcheck.py [workload ...]

1. Corrupted expectation: each named workload (default: all four) runs
   briefly with --corrupt-expectation; every job must count as failed and
   the result must say correct=false.
2. No program: run.py, copied with BENCHMARK.json into an otherwise empty
   directory, must exit non-zero without printing a result line.

Exits 0 when every check passes.
"""

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["cotrip_etl", "query_mix", "corpus_curate", "ingest_screen"]


def corrupted(workload):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0", "--corrupt-expectation"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    if out.returncode != 0:
        return f"run failed with exit {out.returncode}"
    r = json.loads(out.stdout.strip().splitlines()[-1])
    ok = r["correct"] is False and r["attempted"] >= 1 and r["failed"] == r["attempted"]
    return None if ok else f"expected every job failed, got {r}"


def no_program():
    with tempfile.TemporaryDirectory(dir=HERE / ".work" if (HERE / ".work").is_dir() else None) as d:
        bare = Path(d)
        shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns(".build", ".work", "target"))
        out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cotrip_etl",
                              "--seed", "1", "--seconds", "1", "--trace", "0"],
                             cwd=bare, capture_output=True, text=True, timeout=170)
        if out.returncode == 0 or out.stdout.strip():
            return f"exit {out.returncode}, stdout {out.stdout[-200:]!r}"
    return None


def main():
    failures = 0
    for w in sys.argv[1:] or WORKLOADS:
        err = corrupted(w)
        print(f"corrupted expectation, {w}: {'ok' if err is None else 'FAILED: ' + err}", flush=True)
        failures += err is not None
    err = no_program()
    print(f"no program next to the benchmark: {'ok' if err is None else 'FAILED: ' + err}")
    failures += err is not None
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
