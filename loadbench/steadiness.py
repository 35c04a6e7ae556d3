#!/usr/bin/env python3
"""Repeat each workload of the load benchmark and report how steady it is.

    python3 loadbench/steadiness.py --sets 2 --runs 10 --traced 2 --out loadbench/STEADINESS.json
    python3 loadbench/steadiness.py --workloads upsert_large --sets 1 --runs 5

Runs `run.py` for run_seconds (from BENCHMARK.json) once per seed 1..runs
for every workload, untraced, and repeats that --sets times. For every set and metric it writes the median,
the first and third quartiles (statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median, plus the failed share of operations. It then compares
each set with the first against the bounds of BENCHMARK.json: every spread
but that of setup_s must stay within its metric's bound, and no median may
be worse than the first set's by more than the bound. Last come --traced
traced runs per workload, each paired with an untraced run of the same
seed made right after it; the pairs give the tracing overhead on job_p50_s.
These figures are what the bounds in BENCHMARK.json rest on.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, wall
    return json.loads(lines[-1]), wall


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def one_set(w, runs, seconds):
    results, walls = [], []
    for seed in range(1, runs + 1):
        r, wall = run(w, seed, seconds, 0)
        walls.append(wall)
        print(f"{w} seed {seed}: {wall:.0f} s " +
              (json.dumps({k: round(v['value'], 4) for k, v in r['metrics'].items()})
               if r else "NO RESULT"), file=sys.stderr, flush=True)
        if r:
            results.append(r)
    return {
        "runs": len(results), "failed_runs": runs - len(results),
        "run_wall_s": summary(walls),
        "all_correct": all(r["correct"] for r in results),
        "failed_share": sorted({r["failed"] / r["attempted"] for r in results}),
        "attempted": summary([r["attempted"] for r in results]) if results else None,
        "metrics": {k: summary([r["metrics"][k]["value"] for r in results])
                    for k in (results[0]["metrics"] if results else {})},
    }


def agreement(first, other, bench):
    """Each metric of `other` against the first set and the bounds."""
    out = {}
    for m in bench["end_to_end"]:
        k, bound = m["name"], m["bound"]
        if k not in first["metrics"] or k not in other["metrics"]:
            continue
        m1, m2 = first["metrics"][k]["median"], other["metrics"][k]["median"]
        worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
        spread = other["metrics"][k]["spread"]
        out[k] = {"bound": bound, "spread": spread, "median_worse_by": worse,
                  "ok": worse <= bound and (k == "setup_s" or spread <= bound)}
    out["failed_share_equal"] = first["failed_share"] == other["failed_share"]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: the workloads of BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])

    report = {"seconds": seconds, "runs": a.runs, "sets": [], "agreement": [],
              "traced": {}}
    for _ in range(a.sets):
        report["sets"].append({w: one_set(w, a.runs, seconds) for w in workloads})
    for i, s in enumerate(report["sets"]):
        report["agreement"].append({w: agreement(report["sets"][0][w], s[w], bench)
                                    for w in workloads})
        for w in workloads:
            for k, x in s[w]["metrics"].items():
                ag = report["agreement"][-1][w].get(k, {})
                print(f"set {i + 1} {w:16s} {k:16s} median {x['median']:.4g}  "
                      f"q1 {x['q1']:.4g}  q3 {x['q3']:.4g}  spread {x['spread']:.3f}  "
                      f"worse-than-set-1 {ag.get('median_worse_by', 0):+.3f}  "
                      f"{'ok' if ag.get('ok', True) else 'OUT OF BOUND'}")

    # Each traced run is paired with an untraced run of the same seed right
    # after it, so the overhead is not confounded by the machine's drift.
    for w in workloads:
        traced, pairs = [], []
        for seed in range(1, a.traced + 1):
            r, wall = run(w, seed, seconds, 1)
            u, _ = run(w, seed, seconds, 0)
            print(f"{w} traced seed {seed}: {wall:.0f} s", file=sys.stderr, flush=True)
            if r and u:
                traced.append(r)
                pairs.append(r["metrics"]["trace.job_p50_s"]["value"] /
                             u["metrics"]["job_p50_s"]["value"] - 1)
        if traced:
            report["traced"][w] = {
                "per_layer": {k: summary([r["metrics"][k]["value"] for r in traced])
                              for k in traced[0]["metrics"]},
                "tracing_overhead_job_p50": statistics.median(pairs), "pairs": len(pairs)}
            print(f"{w:16s} tracing overhead on job_p50_s "
                  f"{report['traced'][w]['tracing_overhead_job_p50']:+.3f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
