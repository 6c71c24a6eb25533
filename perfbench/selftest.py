#!/usr/bin/env python3
"""Tiny-size self-test of every workload.

    python3 perfbench/selftest.py

For each workload in BENCHMARK.json it makes two small runs (inputs
scaled down, tables at sf 0.001, a few units):

1. untraced: every end-to-end metric named in BENCHMARK.json is printed
   with its unit, and the outputs check out (``correct``);
2. traced, with one wrong expectation planted per check: every per-layer
   metric is printed with its unit, and ``error_rate`` rises above 0 --
   proof that the checks can fail.

Exits 0 when every workload passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, trace: int, plant: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", "5", "--size", "0.1", "--trace", str(trace)]
    if plant:
        cmd.append("--plant-error")
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _missing(result: dict, specs: list[dict]) -> list[str]:
    got = result["metrics"]
    return [
        m["name"] for m in specs
        if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]
        or not isinstance(got[m["name"]]["value"], (int, float))
    ]


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        name = w["name"]
        plain = _run(name, trace=0, plant=False)
        if not plain["correct"] or plain["failed"]:
            problems.append(f"{name}: {plain['failed']} failed operations on a clean run")
        for m in _missing(plain, bench["end_to_end"]):
            problems.append(f"{name}: end-to-end metric {m} missing or wrong unit")
        planted = _run(name, trace=1, plant=True)
        for m in _missing(planted, bench["per_layer"]):
            problems.append(f"{name}: per-layer metric {m} missing or wrong unit")
        if planted["correct"] or planted["metrics"]["error_rate"]["value"] <= 0:
            problems.append(f"{name}: a planted wrong expectation did not raise error_rate")
        print(f"{name}: clean failed={plain['failed']}/{plain['attempted']}, "
              f"planted failed={planted['failed']}/{planted['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
