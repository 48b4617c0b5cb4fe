"""Steadiness check: run every workload with seeds 1-10 and report, for every
end-to-end metric, the median and the quartile spread (Q3 - Q1 of
statistics.quantiles(values, n=4), as a share of the median) next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py

A spread above a third of its bound is flagged; setup_s is exempt from the
spread rule (only its median is compared between two sets of runs).
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worst = 0.0
    for w in [x["name"] for x in spec["workloads"]]:
        values = {m: [] for m in bounds}
        failed = attempted = 0
        for seed in SEEDS:
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit code {r.returncode}\n{r.stderr[-2000:]}")
                return 1
            res = json.loads(r.stdout.strip().splitlines()[-1])
            failed += res["failed"]
            attempted += res["attempted"]
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + " ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()),
                  flush=True)
        print(f"{w}: failed {failed} of {attempted} attempted")
        for m, v in values.items():
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q[2] - q[0]) / med
            flag = "" if m == "setup_s" or spread < bounds[m] / 3 else "  <-- above bound/3"
            if m != "setup_s":
                worst = max(worst, spread / bounds[m])
            print(f"  {m:14s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds[m]}{flag}")
    print(f"worst spread / bound: {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
