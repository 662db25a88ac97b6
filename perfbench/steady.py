"""Steadiness check: run one workload over several seeds, one run after
another, and report the median, quartiles and quartile spread
(Q3 - Q1) / median of each end-to-end figure of the detail record
(the gated metrics and the ones reported only there), plus the wall
time of each run.

    python3 perfbench/steady.py --workload daily_ingest --seeds 1-10 --seconds 3

Run from the root of the checkout. Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, check=False)
        wall = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        figures = json.loads(lines[-2])["detail"]["end_to_end"]
        runs.append({"seed": seed, "wall_s": wall, "result": res, "figures": figures})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1),
                          "correct": res["correct"],
                          **{k: round(v, 4) for k, v in figures.items()}}),
              file=sys.stderr, flush=True)
    summary = {}
    for name in runs[0]["figures"]:
        vals = [r["figures"][name] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {"median": q2, "q1": q1, "q3": q3, "spread": quartile_spread(vals)}
    print(json.dumps({
        "workload": args.workload, "seconds": args.seconds, "seeds": args.seeds,
        "all_correct": all(r["result"]["correct"] for r in runs),
        "run_wall_s": [round(r["wall_s"], 1) for r in runs],
        "metrics": summary,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
