"""Smoke check of the benchmark itself (~20 s).

    python3 perfbench/smoke.py

1. One cold pass at sf0.001 over a real query and an unknown query
   name: the unknown name must count as one failed query in the result
   line, not crash the run.
2. A copy of the benchmark without the package beside it must exit
   non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational",
         "--seed", "1", "--seconds", "0", "--trace", "0", "--sf", "0.001",
         "--warmup", "0", "--min-passes", "0",
         "--queries", "q6_forecast_revenue,no_such_query"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def main() -> None:
    out = _run(ROOT)
    if out.returncode != 0:
        sys.exit(f"smoke run exited {out.returncode}:\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    want = {"correct": False, "attempted": 2, "failed": 1}
    got = {k: res[k] for k in want}
    if got != want or "no_such_query" not in out.stderr:
        sys.exit(f"unknown query not counted as one failure: {got}")

    bare = os.path.join(ROOT, ".perfbench-runs", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        out = _run(bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if out.returncode == 0 or out.stdout.strip():
        sys.exit(f"bare checkout: exit {out.returncode}, stdout {out.stdout!r}")
    print("smoke ok")


if __name__ == "__main__":
    main()
