#!/usr/bin/env python3
"""Record the benchmark's baseline: run every workload over a range of seeds
(interleaved, one process at a time), optionally one traced run and a
single-threaded reference per workload, and reduce the results.

    python3 perfbench/baseline.py --seeds 101-110 --traced-seed 101 \\
        --single-seed 101 --single sweep-relational,stream-history \\
        --out perfbench/BASELINE.json

Run from the root of a checkout. Each end-to-end metric and each printed
figure gets its median, quartiles, sample count and spread over the seeds
(`stats.summary`), the figure the acceptance rule bounds.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


def one(workload, seed, seconds, trace, cores):
    """Run one workload; its reduced results (run.py's summary.json)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {r.returncode}:\n{r.stdout[-3000:]}")
    a = argparse.Namespace(workload=workload, seed=seed, trace=trace, cores=cores)
    with open(os.path.join(run.run_dir(os.path.join(os.getcwd(), ".bench_build"), a),
                           "summary.json")) as f:
        return json.load(f)


def reduce(results):
    values = {}
    for res in results:
        # the printed figures repeat the end-to-end metrics
        for k, v in dict(res["figures"], **res["metrics"]).items():
            values.setdefault(k, {"unit": v["unit"], "values": []})["values"].append(v["value"])
    return {k: dict(unit=v["unit"], **stats.summary(v["values"]))
            for k, v in values.items() if k != "fail_share"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--traced-seed", type=int)
    ap.add_argument("--single-seed", type=int)
    ap.add_argument("--single", default="", help="workloads of the single-threaded reference")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    lo, hi = map(int, a.seeds.split("-"))
    workloads = a.workloads.split(",")
    bench = json.load(open("BENCHMARK.json"))
    seconds = bench["run_seconds"]
    cores = len(os.sched_getaffinity(0))
    try:
        commit = subprocess.check_output(["git", "rev-parse", "HEAD"], text=True,
                                         stderr=subprocess.DEVNULL).strip()
    except (OSError, subprocess.CalledProcessError):
        commit = None

    runs = {w: [] for w in workloads}
    for seed in range(lo, hi + 1):
        for w in workloads:
            runs[w].append(one(w, seed, seconds, 0, cores))
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k} {v['value']:.4g}" for k, v in runs[w][-1]["metrics"].items()), flush=True)
    out = {"commit": commit, "host": {"nproc": os.cpu_count(), "cores": cores},
           "run_seconds": seconds, "workloads": {}}
    for w in workloads:
        out["workloads"][w] = {
            "seeds": [r["seed"] for r in runs[w]],
            "failed_of_attempted": [[r["failed"], r["attempted"]] for r in runs[w]],
            "metrics": reduce(runs[w])}
    if a.traced_seed is not None:
        out["per_layer"] = {}
        for w in workloads:
            r = one(w, a.traced_seed, seconds, 1, cores)
            out["per_layer"][w] = {"seed": a.traced_seed, "correct": r["correct"],
                                   "metrics": {k: v["value"] for k, v in r["metrics"].items()}}
    if a.single:
        out["single_thread"] = {}
        for w in a.single.split(","):
            r = one(w, a.single_seed, seconds, 0, 1)
            out["single_thread"][w] = {"cores": 1, "seed": a.single_seed, "correct": r["correct"],
                                       "figures": {k: v for k, v in r["figures"].items()
                                                   if k != "fail_share"}}
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)
    for w in workloads:
        for k, v in out["workloads"][w]["metrics"].items():
            print(f"{w:18} {k:20} median {v['median']:.4g} spread {v['spread']:.3f} n {v['n']}")


if __name__ == "__main__":
    main()
