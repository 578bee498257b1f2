"""Tiny-fixture self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced on
tiny fixtures, and checks that the last output line has exactly the
result keys, that every operation passed its output check, and that the
metric names and units are exactly those BENCHMARK.json declares.
Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_result(line: str, declared: list[dict]) -> list[str]:
    errors = []
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errors.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errors.append(f"attempted={res.get('attempted')}")
    metrics = res.get("metrics", {})
    want = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(want):
        errors.append(f"metric names differ: missing {sorted(set(want) - set(metrics))}, extra {sorted(set(metrics) - set(want))}")
    for name, m in metrics.items():
        if set(m) != {"value", "unit"} or m["unit"] != want.get(name):
            errors.append(f"{name}: {m}")
        elif not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            errors.append(f"{name}: value {m['value']!r}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failed = 0
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [*bench["command"], "--workload", w["name"], "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            errors = [f"exit code {p.returncode}"] if p.returncode else []
            if lines:
                errors += check_result(lines[-1], bench["per_layer" if trace else "end_to_end"])
            else:
                errors.append("no output")
            failed += bool(errors)
            print(f"{w['name']} trace={trace}: {'ok' if not errors else '; '.join(errors)}")
            if errors:
                print(p.stderr[-3000:], file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
