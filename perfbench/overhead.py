"""Tracing overhead: run one workload untraced and traced with the same
seed and print, per end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload <name> --seed <n> --seconds <s>

The traced run's end-to-end numbers come from its report line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _report(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    return json.loads(out[-2])["report"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = _report(args.workload, args.seed, args.seconds, 0)["end_to_end"]
    traced = _report(args.workload, args.seed, args.seconds, 1)["end_to_end"]
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "untraced": plain,
        "traced": traced,
        "overhead": {k: round(traced[k] - plain[k], 6) for k in plain},
        "overhead_share": {k: round(traced[k] / plain[k] - 1.0, 4) for k in plain if plain[k]},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
