#!/usr/bin/env python3
"""Self-test of the benchmark: each workload at the sf0.001 tier with a
few ops, untraced, traced, and with a deliberately wrong result.

Asserts that every metric BENCHMARK.json names is printed with its unit,
that fail_frac is 0 on a correct run, and that the perturbed run fails
its gate (non-zero exit, "correct": false, failed > 0).

Usage, from the repo root: python3 perfbench/selftest.py [workload ...]
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, perturb=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", "--max-ops", "3",
           "--perturb", str(perturb)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def check(workload):
    errors = []
    for trace in (0, 1):
        code, lines, err = run(workload, trace)
        if code != 0 or not lines:
            errors.append(f"trace={trace}: exit {code}\n{err[-2000:]}")
            continue
        res = json.loads(lines[-1])
        if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
            errors.append(f"trace={trace}: result keys {sorted(res)}")
        declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        for d in declared:
            got = res["metrics"].get(d["name"])
            if got is None or got.get("unit") != d["unit"] or \
                    not isinstance(got.get("value"), (int, float)):
                errors.append(f"trace={trace}: metric {d['name']} is {got}")
        if set(res["metrics"]) != {d["name"] for d in declared}:
            errors.append(f"trace={trace}: extra metrics "
                          f"{set(res['metrics']) - {d['name'] for d in declared}}")
        if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
            errors.append(f"trace={trace}: correct={res['correct']} "
                          f"failed={res['failed']} attempted={res['attempted']}")
        if "metric fail_frac = 0" not in lines:
            errors.append(f"trace={trace}: fail_frac is not 0")
    code, lines, err = run(workload, 0, perturb=1)
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if code == 0 or res is None or res["correct"] or res["failed"] < 1:
        errors.append(f"perturbed result passed the gate: exit {code}, {res}")
    return errors


def main():
    workloads = sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]
    failed = False
    for w in workloads:
        errors = check(w)
        print(f"{w}: {'ok' if not errors else 'FAILED'}")
        for e in errors:
            print(f"  {e}")
        failed |= bool(errors)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
