"""Run the benchmark over several seeds and report how much each metric spreads.

    python3 perfbench/spread.py --workload dedup_texts --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload extract_mixed --seeds 7 7 --trace 1

Run from the repository root; the command, run length and bounds come
from BENCHMARK.json.  With ``--trace 0`` it prints, per end-to-end
metric, the median, the quartiles and the quartile distance as a share
of the median next to the metric's bound.  With ``--trace 1`` it checks
that the ledger's counts (units count and bytes) are identical across
the runs, which is meant for runs of one seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT_UNITS = ("count", "bytes")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    results = []
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                           timeout=600)
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            return 1
        r = json.loads(p.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "elapsed_s": time.monotonic() - t0,
                          "correct": r["correct"], "attempted": r["attempted"],
                          "failed": r["failed"],
                          "metrics": {k: v["value"]
                                      for k, v in r["metrics"].items()}}),
              flush=True)
        results.append(r)

    ok = all(r["correct"] and r["failed"] == 0 for r in results)
    if args.trace:
        for name, m in results[0]["metrics"].items():
            if m["unit"] in EXACT_UNITS:
                vals = [r["metrics"][name]["value"] for r in results]
                same = len(set(vals)) == 1
                ok = ok and same
                print(f"{name:40s} {'same' if same else 'DIFFERS'} {vals}")
        return 0 if ok else 1
    for spec in bench["end_to_end"]:
        vals = [r["metrics"][spec["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med
        print(f"{spec['name']:30s} median {med:12.4f}  q1 {q1:12.4f}  "
              f"q3 {q3:12.4f}  spread {share:.4f}  bound {spec['bound']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
