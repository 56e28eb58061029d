"""Steadiness report: two sets of benchmark runs of one commit.

    python3 perfbench/report.py [--runs 10] [--workloads stream_join,batch]

For every workload, each set makes ``--runs`` untraced runs, each with
its own seed, and one traced run.  The report gives, per end-to-end
metric and workload, each set's median and quartiles, the spread
(interquartile range / median) and the gap between the set medians,
both against the metric's bound in BENCHMARK.json.  It checks that the
exact counts of the traced runs repeat across sets, lists the counts
that adaptive query execution may vary, and gives the tracing overhead
(traced minus untraced end-to-end values).  Every run's record (seed,
task threads, driver heap, 1-minute load before and after, input
fingerprints, staged payload counts and hashes) is kept in the report;
no run is discarded.

Writes ``.perfbench_work/steadiness.json`` and prints a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Counts that must repeat exactly between runs of one commit.
EXACT = ("plans.build_jobs", "stream.triggers", "stream.input_rows",
         "stream.output_rows", "joins.state_rows")
EXACT_SUFFIXES = (".build_jobs",)
# Counts that adaptive query execution may change from run to run.
AQE_VARIED = ("action_jobs", "stages", "tasks")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    out = {"seed": seed, "trace": trace, "exit": proc.returncode,
           "result": json.loads(lines[-1]) if lines else None}
    record = os.path.join(ROOT, ".perfbench_work", "runs",
                          f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(record):
        with open(record) as f:
            rec = json.load(f)
        rec.pop("spans", None)
        out["record"] = rec
    return out


def _quartiles(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def _value(run: dict, name: str) -> float | None:
    metric = ((run.get("result") or {}).get("metrics") or {}).get(name)
    return None if metric is None else metric["value"]


def summarize(sets: list[dict], bench: dict) -> dict:
    out = {"metrics": {}, "exact_counts": {}, "aqe_varied": {}, "tracing_overhead": {}}
    for w in sets[0]:
        rows = {}
        for m in bench["end_to_end"]:
            per_set = []
            for s in sets:
                vals = [v for r in s[w]["untraced"] if (v := _value(r, m["name"])) is not None]
                per_set.append(_quartiles(vals) if vals else None)
            if None in per_set:
                continue
            a, b = per_set[0]["median"], per_set[1]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            # Both directions count: a set that is faster by more than the
            # bound is as unsteady as one that is slower.
            rows[m["name"]] = {
                "bound": m["bound"], "sets": per_set,
                "gap": worse,
                "spread_ok": all(p["spread"] <= m["bound"] for p in per_set),
                "gap_ok": abs(worse) <= m["bound"],
            }
        out["metrics"][w] = rows

        traced = [s[w]["traced"] for s in sets]
        layers = [((t.get("result") or {}).get("metrics") or {}) for t in traced]
        names = sorted(set().union(*layers))
        exact = {n: [lay.get(n, {}).get("value") for lay in layers] for n in names
                 if n in EXACT or n.endswith(EXACT_SUFFIXES)}
        out["exact_counts"][w] = {
            n: {"values": v, "repeat": len(set(v)) == 1} for n, v in exact.items()
        }
        out["aqe_varied"][w] = {
            n: [lay.get(n, {}).get("value") for lay in layers] for n in AQE_VARIED
        }
        overhead = {}
        for m in bench["end_to_end"]:
            deltas = []
            for s, t in zip(sets, traced):
                traced_v = (t.get("record") or {}).get("end_to_end", {}).get(m["name"])
                vals = [v for r in s[w]["untraced"] if (v := _value(r, m["name"])) is not None]
                if traced_v is not None and vals:
                    deltas.append(traced_v - statistics.median(vals))
            if deltas:
                overhead[m["name"]] = deltas
        out["tracing_overhead"][w] = overhead
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="untraced runs per set and workload")
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    args = ap.parse_args(argv)
    bench = _bench()
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = bench["run_seconds"]

    sets = []
    for set_no in (1, 2):
        runs = {}
        for w in workloads:
            base = set_no * 1000
            untraced = []
            for i in range(args.runs):
                untraced.append(_run(w, base + i, seconds, 0))
                print(f"set {set_no} {w} seed {base + i}: exit {untraced[-1]['exit']}",
                      file=sys.stderr, flush=True)
            traced = _run(w, base + 999, seconds, 1)
            runs[w] = {"untraced": untraced, "traced": traced}
        sets.append(runs)

    summary = summarize(sets, bench)
    report = {"runs_per_set": args.runs, "summary": summary, "sets": sets}
    path = os.path.join(ROOT, ".perfbench_work", "steadiness.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)

    ok = True
    for w, rows in summary["metrics"].items():
        for name, r in rows.items():
            s1, s2 = r["sets"]
            print(f"{w:12s} {name:16s} set1 {s1['median']:10.3f} [{s1['q1']:.3f}, {s1['q3']:.3f}]"
                  f" spread {s1['spread']:.3f} | set2 {s2['median']:10.3f}"
                  f" [{s2['q1']:.3f}, {s2['q3']:.3f}] spread {s2['spread']:.3f}"
                  f" | gap {r['gap']:+.3f} bound {r['bound']}"
                  f"{'' if r['spread_ok'] and r['gap_ok'] else '  OUT OF BOUND'}")
            ok &= r["spread_ok"] and r["gap_ok"]
        for n, c in summary["exact_counts"][w].items():
            if not c["repeat"]:
                print(f"{w:12s} {n} differs between sets: {c['values']}")
                ok = False
    failed_runs = [(w, r["seed"]) for s in sets for w in s
                   for r in s[w]["untraced"] + [s[w]["traced"]] if r["exit"] != 0]
    if failed_runs:
        print(f"runs that failed: {failed_runs}")
        ok = False
    print(f"report: {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
