"""Tracing overhead: run one workload untraced and traced on the same seed
and print the difference in its end-to-end figures.

    python3 perfbench/overhead.py --workload cdc --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _metrics(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = _metrics(args, 0)
    traced = _metrics(args, 1)
    for name in ("latency_p50_ms", "throughput_per_s"):
        a = plain[name]["value"]
        b = traced[f"traced.{name}"]["value"]
        print(f"{name}: untraced {a:.6g} traced {b:.6g} "
              f"overhead {(b - a) / a:+.2%} {plain[name]['unit']}")


if __name__ == "__main__":
    main()
