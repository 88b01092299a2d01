"""Smoke check of the benchmark harness at tiny inputs (sf0.001 tables,
2,000 ojol rows, a 1-second window).

    python3 perfbench/smoke.py

For every workload, untraced and traced, it runs ``run.py --smoke`` and
asserts that the last stdout line is the result object, that every
metric BENCHMARK.json declares for that mode is printed with its unit,
and that nothing failed (``failed == 0``, so the failed ratio is 0). It
also checks that the benchmark refuses to run, without printing a
result, from a directory holding only BENCHMARK.json and the benchmark's
own files. Takes about four minutes on 4 cores.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check_result(spec: dict, workload: str, trace: int) -> None:
    proc = run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    declared = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float), got
    print(f"ok {workload} trace={trace}: {len(declared)} metrics, "
          f"{result['attempted']} operations, 0 failed")


def check_refuses_bare_copy() -> None:
    bare = os.path.join(ROOT, ".perfbench_tmp", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, "heavy_operators", 0)
        assert proc.returncode != 0, "ran without the engine's sources"
        assert '"correct"' not in proc.stdout, proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(bare))
    print("ok refuses to run without the engine's sources")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            check_result(spec, workload, trace)
    check_refuses_bare_copy()


if __name__ == "__main__":
    main()
