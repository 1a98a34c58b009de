"""Runs the benchmark once per seed on one workload and prints, for each
end-to-end metric, the median and the spread (inter-quartile distance as a
share of the median) over the runs — how the stability sets in
perfbench/README.md were recorded:

    python3 perfbench/stability.py --workload etl --seeds 101-110
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="101-110", help="first-last, inclusive")
    a = ap.parse_args()
    first, last = map(int, a.seeds.split("-"))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    values = {}
    for seed in range(first, last + 1):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds", str(seconds)],
                           capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
            continue
        res = json.loads(lines[-1])
        got = {k: v["value"] for k, v in res["metrics"].items()}
        print(f"seed {seed}: {time.time() - t0:.1f} s wall, correct={res['correct']}, "
              + ", ".join(f"{k}={v:.4f}" for k, v in got.items()), flush=True)
        for k, v in got.items():
            values.setdefault(k, []).append(v)
    for k, v in values.items():
        print(f"{k:<14} n={len(v)} median {stats.median(v):.4f} spread {stats.spread(v):.4f}")


if __name__ == "__main__":
    main()
