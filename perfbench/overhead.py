#!/usr/bin/env python3
"""Tracing overhead of one workload and seed: runs the benchmark once
untraced and once traced, and prints the traced operation latency's
excess over the untraced one, for each operation kind.

    python3 perfbench/overhead.py --workload write --seed 1 --seconds 16
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def result(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args(argv)
    plain = result(args.workload, args.seed, args.seconds, 0)["metrics"]
    traced = result(args.workload, args.seed, args.seconds, 1)["metrics"]
    out = {"workload": args.workload, "seed": args.seed}
    for m in ("op_a_ms_p50", "op_b_ms_p50"):
        a, b = plain[m]["value"], traced[f"trace.{m}"]["value"]
        out[m] = {"untraced": a, "traced": b, "overhead_ratio": b / a - 1.0}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
