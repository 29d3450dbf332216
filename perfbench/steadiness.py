#!/usr/bin/env python3
"""Steadiness and count-repeatability record for the graft benchmark.

Usage (from the repository root):

    python3 perfbench/steadiness.py --runs 10 --out perfbench/results/steadiness.json
    python3 perfbench/steadiness.py --counts 1 --out perfbench/results/counts.json

`--runs N` makes two sets of runs, as an A/B of two identical trees
would: in each set every workload runs N times untraced at BENCHMARK.json's
run_seconds, on seeds 1..N, so both sets time the same inputs. Per set
and end-to-end metric it records the median, the quartiles
(statistics.quantiles(values, n=4)) and the spread: the distance between
the quartiles as a share of the median, next to the metric's bound. Per
metric it records how much worse the second set's median reads than the
first's, as a share of the first. `--counts SEED` runs every workload
traced twice on the same seed and records whether the per-query job,
stage, task and input-row counts repeat exactly.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    record = json.loads((HERE / ".out" / f"run-{workload}-seed{seed}-trace{trace}.json").read_text())
    return result, record


def one_set(bench, workload, runs):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, failed, attempted = {}, 0, 0
    for seed in range(1, runs + 1):
        result, _ = run(workload, seed, bench["run_seconds"], 0)
        failed += result["failed"]
        attempted += result["attempted"]
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"{workload} seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), file=sys.stderr)
    metrics = {}
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        metrics[k] = {"values": xs, "median": med, "q1": q1, "q3": q3,
                      "spread": spread, "bound": bounds[k],
                      "within_tenth": spread <= 0.1,
                      "within_third_of_bound": spread <= bounds[k] / 3}
    return {"runs": runs, "attempted": attempted, "failed": failed, "metrics": metrics}


def steadiness(bench, runs):
    workloads = [x["name"] for x in bench["workloads"]]
    sets = [{w: one_set(bench, w, runs) for w in workloads} for _ in range(2)]
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    report = {}
    for w in workloads:
        a, b = sets[0][w]["metrics"], sets[1][w]["metrics"]
        worse = {}
        for k in a:
            ratio = b[k]["median"] / a[k]["median"]
            share = ratio - 1 if better[k] == "lower" else 1 - ratio
            worse[k] = {"share": share, "within_bound": share <= a[k]["bound"]}
        report[w] = {"sets": [sets[0][w], sets[1][w]], "second_median_worse_by": worse}
    return report


def counts(bench, seed):
    seconds = bench["run_seconds"]
    report = {}
    for w in (x["name"] for x in bench["workloads"]):
        a = run(w, seed, seconds, 1)[1]["counts_by_query"]
        b = run(w, seed, seconds, 1)[1]["counts_by_query"]
        n = min(len(a), len(b))
        differ = [{"first": x, "second": y} for x, y in zip(a[:n], b[:n]) if x != y]
        report[w] = {"seed": seed, "queries": [len(a), len(b)], "compared": n,
                     "identical": not differ and len(a) == len(b), "differing": differ}
    return report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=0)
    ap.add_argument("--counts", type=int, default=0, help="seed for the count check")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = {"seconds": bench["run_seconds"]}
    if a.runs:
        out["steadiness"] = steadiness(bench, a.runs)
    if a.counts:
        out["counts"] = counts(bench, a.counts)
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main()
