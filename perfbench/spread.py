"""Run-to-run spread: run one workload on several seeds and print, per
end-to-end metric, the median, the quartiles and the spread (third minus
first quartile, as a share of the median) next to the metric's bound.

Usage (from the repository root):

    python3 perfbench/spread.py --workload entity --seeds 1-10 [--seconds 10]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int = 0) -> dict:
    """One run of run.py: its result line, plus its ``detail`` record."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    )
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["detail"] = json.loads([ln for ln in proc.stderr.splitlines() if ln.startswith("{")][-1])
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    runs = []
    for seed in range(lo, hi + 1):
        res = run(args.workload, seed, args.seconds)
        runs.append(res)
        print(json.dumps({"seed": seed, **res}), flush=True)
    print(f"{args.workload}: {len(runs)} runs, failed operations {sum(r['failed'] for r in runs)}")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"  {name:18s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {(q3 - q1) / med:6.3f}  bound {bound}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
