#!/usr/bin/env python3
"""Steadiness check: are the benchmark's end-to-end metrics repeatable
within the bounds BENCHMARK.json fixes?

    python3 perfbench/steady.py [--workloads gate_mix,curate] [--seeds 10] \
        [--sets 2] [--save runs.jsonl]
    python3 perfbench/steady.py --load runs.jsonl [--rows summary.json]

Each set runs every workload once per seed (set k uses seeds
k*100+1 .. k*100+seeds). For each workload and metric it reports, per set,
the median and the spread: the distance between the first and third
quartiles (statistics.quantiles(values, n=4)) as a share of the median. The
check fails when any spread exceeds the metric's bound, or when a later
set's median differs from the first set's, in either direction, by more
than the bound: a set that reads better would fail the same check had it
run first.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(metric, base, new):
    """How much worse `new` is than `base`, as a share of `base`."""
    d = (new - base) if metric["better"] == "lower" else (base - new)
    return d / base


def drift(base, new):
    """How far `new` is from `base`, either way, as a share of `base`."""
    return abs(new - base) / base


def evaluate(bench, runs):
    """runs: [{"set": k, "workload": w, "seed": n, "metrics": {name: value}}].
    Returns (rows, problems); rows describe every (workload, metric, set)."""
    rows, problems = [], []
    by_name = {m["name"]: m for m in bench["end_to_end"]}
    for w in sorted({r["workload"] for r in runs}):
        sets = sorted({r["set"] for r in runs if r["workload"] == w})
        for name, m in by_name.items():
            medians = []
            for k in sets:
                vals = [r["metrics"][name] for r in runs
                        if r["workload"] == w and r["set"] == k]
                sp, med = spread(vals), statistics.median(vals)
                medians.append(med)
                rows.append({"workload": w, "metric": name, "set": k, "n": len(vals),
                             "median": med, "spread": sp, "bound": m["bound"],
                             "vs_first": worse_by(m, medians[0], med)})
                if sp > m["bound"]:
                    problems.append(f"{w} {name} set {k}: spread {sp:.3f} > bound {m['bound']}")
                if drift(medians[0], med) > m["bound"]:
                    problems.append(f"{w} {name} set {k}: median {med:.4g} differs from "
                                    f"set {sets[0]}'s {medians[0]:.4g} by more than {m['bound']}")
    return rows, problems


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines() or ["{}"]
    out = json.loads(lines[-1])
    if r.returncode != 0 or not out.get("correct"):
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}, {lines[-1][:500]}")
    report = json.loads(lines[-2]).get("report") if len(lines) > 1 else None
    return {k: v["value"] for k, v in out["metrics"].items()}, report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--save")
    ap.add_argument("--load")
    ap.add_argument("--rows", help="also write the per-set medians and spreads here")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.load:
        with open(a.load) as fh:
            runs = [json.loads(l) for l in fh if l.strip()]
    else:
        names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
        runs = []
        save = open(a.save, "a") if a.save else None
        for k in range(1, a.sets + 1):
            for w in names:
                for i in range(1, a.seeds + 1):
                    seed = k * 100 + i
                    metrics, report = run_once(bench, w, seed)
                    rec = {"set": k, "workload": w, "seed": seed,
                           "metrics": metrics, "report": report}
                    runs.append(rec)
                    print(json.dumps(rec), file=sys.stderr)
                    if save:
                        save.write(json.dumps(rec) + "\n")
                        save.flush()
    rows, problems = evaluate(bench, runs)
    if a.rows:
        with open(a.rows, "w") as fh:
            json.dump(rows, fh, indent=1)
    for r in rows:
        print(f"{r['workload']:9} {r['metric']:17} set {r['set']} n={r['n']:2} "
              f"median {r['median']:10.4f} spread {r['spread']:6.3f} "
              f"(bound {r['bound']}, third {r['bound'] / 3:.3f}) vs first {r['vs_first']:+.3f}")
    for p in problems:
        print("PROBLEM", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
