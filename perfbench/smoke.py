"""Smoke run of the benchmark on sf0.001-sized inputs.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced, one
short pass each, and asserts that each run exits 0, reports
``correct: true``, prints every declared metric name with its declared
unit and leaves no process running.  Exits non-zero on the first run
that does not.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _left_running() -> list[str]:
    """Command lines of live processes that name a run's scratch directory
    (a run's driver JVM does, through its ``--conf`` arguments)."""
    left = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if ".perfbench_work/run-" in cmd:
            left.append(f"{pid} {cmd[:200]}")
    return left


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for w in bench["workloads"]:
        for trace, metrics in declared.items():
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            got = result.get("metrics", {})
            missing = [m["name"] for m in metrics
                       if got.get(m["name"], {}).get("unit") != m["unit"]]
            extra = sorted(set(got) - {m["name"] for m in metrics})
            left = _left_running()
            ok = (proc.returncode == 0 and result.get("correct") and not missing
                  and not extra and not left)
            print(f"{w['name']} trace={trace}: exit {proc.returncode},"
                  f" correct {result.get('correct')}, {len(got)} metrics,"
                  f" missing {missing}, unexpected {extra}, left running {left}")
            if not ok:
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
