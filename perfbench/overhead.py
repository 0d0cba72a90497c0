"""Tracing overhead: run one workload untraced and traced on the same seed
and print the traced latency minus the untraced one.

Usage (from the repository root):

    python3 perfbench/overhead.py --workload entity --seed 1 [--seconds 10]
"""

from __future__ import annotations

import argparse
import json
import sys

from spread import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)["metrics"]["latency_ms"]["value"]
    traced = run(args.workload, args.seed, args.seconds, 1)["metrics"]["trace.latency_ms"]["value"]
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "latency_ms": plain,
        "trace.latency_ms": traced,
        "overhead_ms": traced - plain,
        "overhead_share": (traced - plain) / plain,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
