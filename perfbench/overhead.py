#!/usr/bin/env python3
"""Tracing overhead of one workload: runs it untraced and traced with the
same seed and prints one JSON line with both figures and their difference.

    python3 perfbench/overhead.py --workload lifecycle --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def _detail_and_metrics(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    lines = out.stdout.strip().splitlines()
    merged = json.loads(lines[-2])["detail"]
    merged.update(json.loads(lines[-1])["metrics"])
    return {k: v["value"] for k, v in merged.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = _detail_and_metrics(args, 0)
    traced = _detail_and_metrics(args, 1)
    report = {"workload": args.workload, "seed": args.seed}
    for name in ("op_p50_ms", "pass_s", "pass_cpu_s"):
        a, b = plain[name], traced[f"trace.{name}"]
        report[name] = {"untraced": a, "traced": b, "overhead": b - a, "overhead_frac": (b - a) / a}
    print(json.dumps(report))


if __name__ == "__main__":
    main()
