#!/usr/bin/env python3
"""Steadiness report: runs each workload with several seeds and prints, for
every end-to-end metric, the median, the quartiles and the relative spread
(the distance between the quartiles as a share of the median), next to the
bound BENCHMARK.json fixes, and each run's latency classes with their
sample counts. This is the evidence for the bounds.

Run from the root of a checkout:

    python3 perfbench/steadiness.py --seeds 10 [--workloads service,library] [--json out.json]

Each run is one `perfbench/run.py` invocation with `--trace 0`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["report"] = next((json.loads(l)["report"] for l in lines if l.startswith('{"report"')), {})
    return result


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--json", help="also write every run's result here")
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for w in a.workloads.split(","):
        runs[w] = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            r = run(w, seed, bench["run_seconds"])
            runs[w].append(r)
            print(f"{w} seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                  + " n=" + ",".join(f"{k}:{c['n']}" for k, c in
                                     sorted(r["report"].get("classes", {}).items())),
                  flush=True)
    print(f"\n{'workload':<10} {'metric':<12} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}")
    for w, rs in runs.items():
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < bounds[m] / 3 else "  <-- over a third of bound"
            print(f"{w:<10} {m:<12} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>7.3f} "
                  f"{bounds[m]:>6}{flag}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(runs, f, indent=1)


if __name__ == "__main__":
    main()
