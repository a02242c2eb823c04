"""Self-test of the benchmark at a tiny scale (four geographies).

    python3 perfbench/selftest.py

Runs ``ingest`` untraced and ``revise`` traced through ``run.py
--tiny``, so both workloads' output checks execute, and requires each
to report ``correct`` with exactly the metric names ``BENCHMARK.json``
declares. Then runs the benchmark from a directory holding only
``BENCHMARK.json`` and ``perfbench/``, where it must fail without
printing a result. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=900
    )


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {
        "0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for workload, trace in (("ingest", "0"), ("revise", "1")):
        p = run(["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", trace, "--tiny"], ROOT)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(p.stderr[-4000:], file=sys.stderr)
            print(f"FAIL {workload}: exit {p.returncode}")
            return 1
        result = json.loads(lines[-1])
        got = {name: m["unit"] for name, m in result["metrics"].items()}
        problems = []
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"result keys {sorted(result)}")
        if not result["correct"] or result["failed"] or result["attempted"] < 1:
            problems.append(f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
        if got != declared[trace]:
            problems.append(f"metrics differ from BENCHMARK.json: {set(got) ^ set(declared[trace])}")
        if problems:
            print(p.stderr[-4000:], file=sys.stderr)
            print(f"FAIL {workload}: {'; '.join(problems)}")
            return 1
        print(f"ok   {workload} --trace {trace}: {result['attempted']} operations checked")

    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        p = run(["--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        print(f"FAIL bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}")
        return 1
    print(f"ok   bare directory: exit {p.returncode}, no result")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
