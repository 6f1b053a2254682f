"""Steadiness check: run one workload with several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a share
of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values, shares = {}, set()
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        res = json.loads(out.stdout.strip().split("\n")[-1])
        if not res["correct"] or out.returncode:
            print(f"seed {seed}: correct={res['correct']} exit={out.returncode}", file=sys.stderr)
        shares.add(res["failed"] / res["attempted"])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    print(f"failed share per run: {sorted(shares)}")
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / q2
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- above a third of the bound"
        print(f"{m['name']:>20}: median {q2:.4g} {m['unit']}, spread {spread:.3f} (bound {m['bound']}){flag}")


if __name__ == "__main__":
    main()
