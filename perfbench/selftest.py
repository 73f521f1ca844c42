#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at a tiny generated scale for one steady pass, once
untraced and once traced, and fails unless:

- the result line carries every metric BENCHMARK.json names, each with
  its declared unit;
- no op failed (``failed`` is 0, ``ok_ratio`` is 1);
- each op of the workload reports its layer, timings and a passing check;
- a deliberately damaged expected result is rejected by the checks
  (``--check-corruption``), which proves the checks can fail.

Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_SF = "0.01"


class SelfTestFailed(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SelfTestFailed(msg)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", TINY_SF,
           "--check-corruption"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    check(p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    check(len(lines) >= 2, f"{workload}: expected a report and a result line")
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def verify(workload: str, trace: int, spec: dict) -> None:
    report, result = run(workload, trace)
    check(set(result) == {"correct", "attempted", "failed", "metrics"},
          f"{workload}: result keys {sorted(result)}")
    check(result["failed"] == 0 and result["correct"],
          f"{workload}: failures {report['failures']}")
    check(result["attempted"] >= 1, f"{workload}: nothing attempted")
    declared = spec["per_layer" if trace else "end_to_end"]
    metrics = result["metrics"]
    for m in declared:
        got = metrics.get(m["name"])
        check(got is not None, f"{workload}: metric {m['name']} missing")
        check(got["unit"] == m["unit"],
              f"{workload}: {m['name']} unit {got['unit']} != {m['unit']}")
        check(isinstance(got["value"], (int, float)), f"{workload}: {m['name']} not a number")
    if not trace:
        check(metrics["ok_ratio"]["value"] == 1.0, f"{workload}: ok_ratio below 1")
    else:
        touched = {op["layer"] for op in report["ops"]}
        for layer in touched:
            check(metrics[f"{layer}.build_s"]["value"] > 0, f"{workload}: {layer} not timed")
            check(metrics[f"{layer}.tasks"]["value"] > 0, f"{workload}: {layer} ran no tasks")
    for op in report["ops"]:
        check(op["check"] == "ok", f"{workload}: {op['op']} check {op['check']}")
    caught = report["corruption_check"]
    check(bool(caught and caught["caught_on_passes"]),
          f"{workload}: a damaged expectation for {caught and caught['op']} was not caught")
    print(f"ok  {workload} trace={trace}: {len(metrics)} metrics, "
          f"{result['attempted']} ops, damaged expectation for {caught['op']!r} caught")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        for w in spec["workloads"]:
            for trace in (0, 1):
                verify(w["name"], trace, spec)
    except SelfTestFailed as e:
        print(f"FAIL {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
