#!/usr/bin/env python3
"""Tiny-size smoke run of the benchmark.

    python3 perfbench/smoke.py [workload ...]

Runs ``run.py --size tiny`` (the sf0.001 tables, 400 arXiv records) for each
workload — by default every one ``run.py`` knows — with tracing off and on,
from the repository root. Asserts that the last stdout line is the result
object, that it prints exactly the metrics BENCHMARK.json declares for that
mode, each with its declared unit and a numeric value, and that the
correctness checks ran and passed. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    import run

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    declared = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for workload in argv or sorted(run.WORKLOADS):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            where = f"{workload} --trace {trace}"
            if proc.returncode != 0 or len(lines) < 2:
                print(proc.stderr[-3000:], file=sys.stderr)
                print(f"FAIL {where}: exit {proc.returncode}", file=sys.stderr)
                return 1
            info, result = json.loads(lines[-2])["info"], json.loads(lines[-1])
            problems = []
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(result)}")
            if set(result["metrics"]) != set(declared[trace]):
                problems.append("metrics differ from BENCHMARK.json: "
                                f"{sorted(set(result['metrics']) ^ set(declared[trace]))}")
            for name, m in result["metrics"].items():
                if m.get("unit") != declared[trace].get(name):
                    problems.append(f"{name}: unit {m.get('unit')!r}")
                if not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{name}: value {m.get('value')!r}")
            if info["checks_run"] < 1 or not result["correct"] or result["failed"]:
                problems.append(f"checks: ran {info['checks_run']}, failed "
                                f"{info['checks_failed']}, correct={result['correct']}")
            if problems:
                print(f"FAIL {where}: " + "; ".join(problems), file=sys.stderr)
                return 1
            print(f"ok {where}: {len(result['metrics'])} metrics, "
                  f"{info['checks_run']} checks, {result['attempted']} ops")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
