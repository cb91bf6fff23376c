"""Steadiness check: run workloads repeatedly on one commit, each run with
another seed, and print each metric's median, quartiles and spread
(interquartile distance as a share of the median). The bounds in
BENCHMARK.json are set from this output.

    python3 perfbench/steady.py --runs 10 [--workloads route_agg,conf_files] [--trace 0]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    ap.add_argument("--trace", default="0")
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    worst = 0.0
    for w in a.workloads.split(","):
        vals, walls, shares = {}, [], set()
        for k in range(a.runs):
            seed = a.first_seed + k
            t0 = time.monotonic()
            res = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                  "--seed", str(seed), "--seconds", str(a.seconds),
                                  "--trace", a.trace],
                                 stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.monotonic() - t0)
            if res.returncode != 0:
                print(f"{w} seed {seed}: exit {res.returncode}")
                return 1
            out = json.loads(res.stdout.strip().splitlines()[-1])
            if not out["correct"]:
                print(f"{w} seed {seed}: outputs incorrect")
                return 1
            shares.add(out["failed"] / out["attempted"])
            for n, m in out["metrics"].items():
                vals.setdefault(n, []).append(m["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s wall, " + ", ".join(
                f"{n}={m['value']:.4g}" for n, m in out["metrics"].items()
                if n in bounds or a.trace == "1"), flush=True)
        print(f"\n{w}: {a.runs} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, failed share {sorted(shares)}")
        for n, v in vals.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            mark = ""
            if n in bounds:
                mark = f"  bound {bounds[n]}" + ("  OVER A THIRD" if spread > bounds[n] / 3 else "")
                if n != "setup_s":
                    worst = max(worst, spread / bounds[n])
            print(f"  {n:28} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  spread {spread:7.4f}{mark}")
        print(flush=True)
    print(f"largest spread / bound (setup_s excluded): {worst:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
