#!/usr/bin/env python3
"""Steadiness check of the benchmark's end-to-end metrics.

    python3 perfbench/steadiness.py --seeds 11-20 --sets 2 --out perfbench/steadiness/NAME.json

Runs the command in BENCHMARK.json untraced once per (set, seed, workload),
alternating the workload order between sets, and reports for every
workload and end-to-end metric:
  - spread: (Q3 - Q1) / median of each set's values, quartiles as
    statistics.quantiles(values, n=4) gives them;
  - drift: how much worse the second set's median is than the first's,
    as a share of the first.
A metric is steady when every spread but setup_s's is at most its bound
and no drift exceeds its bound. Run from the checkout root.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(vs):
    q1, _, q3 = statistics.quantiles(vs, n=4)
    return (q3 - q1) / statistics.median(vs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 1,5,9")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    runs = []
    for s in range(a.sets):
        order = names if s % 2 == 0 else names[::-1]
        for seed in seeds(a.seeds):
            for w in order:
                t0 = time.monotonic()
                p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                                   cwd=ROOT, capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
                run = {"set": s, "workload": w, "seed": seed, "exit": p.returncode,
                       "run_s": round(time.monotonic() - t0, 1), "result": res,
                       "detail": [json.loads(l) for l in lines[:-1] if l.startswith("{")]}
                runs.append(run)
                m = res.get("metrics", {})
                print(f"set {s} {w:16s} seed {seed:4d} exit {p.returncode} "
                      f"correct {res.get('correct')} run {run['run_s']:6.1f}s " +
                      " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)
    summary = {}
    ok = True
    for w in names:
        for e in bench["end_to_end"]:
            k, bound, better = e["name"], e["bound"], e["better"]
            sets = [[r["result"]["metrics"][k]["value"] for r in runs
                     if r["workload"] == w and r["set"] == s and r["exit"] == 0] for s in range(a.sets)]
            if any(len(v) < 2 for v in sets):
                continue
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets]
            drift = (meds[-1] - meds[0]) / meds[0] * (1 if better == "lower" else -1)
            steady = (k == "setup_s" or max(spreads) <= bound) and drift <= bound
            ok &= steady
            summary[f"{w}/{k}"] = {"bound": bound, "medians": meds, "spreads": spreads,
                                   "drift": drift, "within_third": max(spreads) <= bound / 3,
                                   "steady": steady}
            print(f"{w:16s} {k:14s} bound {bound:.2f} medians " +
                  " ".join(f"{m:.4g}" for m in meds) + " spreads " +
                  " ".join(f"{x:.3f}" for x in spreads) + f" drift {drift:+.3f}" +
                  ("" if steady else "  NOT STEADY"))
    all_correct = all(r["exit"] == 0 and r["result"].get("correct") for r in runs)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump({"seeds": seeds(a.seeds), "sets": a.sets, "workload_order": names,
                   "run_seconds": bench["run_seconds"], "all_correct": all_correct,
                   "steady": ok, "summary": summary, "runs": runs}, fh, indent=1)
    print(f"all correct: {all_correct}; steady: {ok}")
    sys.exit(0 if ok and all_correct else 1)


if __name__ == "__main__":
    main()
