#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs one workload on several seeds (one fresh run each) and prints, per
end-to-end metric, the median and the distance between the first and third
quartile as a share of the median, next to the metric's bound.

    python3 perfbench/spread.py tail_cow 1 2 3 4 5
"""
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    workload, seeds = sys.argv[1], sys.argv[2:]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                            "--workload", workload, "--seed", seed,
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        res = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else {}
        if r.returncode != 0 or not res.get("correct"):
            print(f"seed {seed}: run failed (exit {r.returncode})", file=sys.stderr)
            continue
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}"
                                          for k, v in res["metrics"].items()), flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{m['name']:28s} median={med:.4g} spread={(q3 - q1) / med:.3f} "
              f"bound={m['bound']}")


if __name__ == "__main__":
    main()
