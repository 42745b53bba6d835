"""Benchmark of the extraction job and the production dedup runs.

    python3 perfbench/run.py --master 'local[2]' --cpus 2 \\
        --local-dirs perfbench/.work/spark-local \\
        --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process runs one workload: it starts
Spark, writes the seeded inputs, warms up, then repeats the workload's
end-to-end iteration for ``--seconds`` and prints, as its last stdout
line, one JSON object with the end-to-end metrics (``--trace 0``) or the
per-layer ledger metrics (``--trace 1``, see ``ledger.py``).  Every
iteration's output is checked; a wrong one counts as a failed operation.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
# After a 15-20 s cold first iteration, iterations 2-3 still run 10-35 %
# slow on dedup_texts; timing starts after them.
WARMUP = 3
MIN_TIMED = 3


def end_to_end(args, spark, wl) -> dict:
    import sparkenv
    from proctree import PeakRss, cpu_s, process_age_s
    from workloads import dir_bytes

    out = os.path.join(WORK, "out")
    attempted = failed = 0
    errors: list[str] = []

    def iteration() -> tuple[float, float, int, dict]:
        sparkenv.reset(spark, out)
        with PeakRss() as rss:
            c0, t0 = cpu_s(), time.perf_counter()
            m = wl.run(spark, out)
            wall, cpu = time.perf_counter() - t0, cpu_s() - c0
        return wall, cpu, rss.peak, m

    def tally(errs: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        if errs:
            failed += 1
            errors.extend(errs)

    warm = []
    for _ in range(WARMUP):
        wall, _, _, m = iteration()
        warm.append(wall)
        tally(wl.check(m))
    setup_s = process_age_s()

    walls, cpus, peaks, ratios = [], [], [], []
    t_end = time.perf_counter() + args.seconds
    while len(walls) < MIN_TIMED or time.perf_counter() < t_end:
        wall, cpu, peak, m = iteration()
        errs = wl.check(m)
        if not walls:
            errs += wl.check_output(out)
        tally(errs)
        walls.append(wall)
        cpus.append(cpu)
        peaks.append(peak)
        ratios.append(dir_bytes(out) / wl.input_bytes)
    sparkenv.reset(spark, out)
    for e in errors[:20]:
        print("FAILED:", e, file=sys.stderr)
    print(json.dumps({"workload": wl.name, "warmup_walls_s": warm,
                      "walls_s": walls, "cpus_s": cpus, "peaks": peaks}),
          file=sys.stderr)
    rows = wl.rows
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": statistics.median(rows / w for w in walls),
                           "unit": "1/s"},
            "cpu_s_per_krow": {"value": statistics.median(cpus) * 1000 / rows,
                               "unit": "s"},
            # median, not max: ~1 iteration in 30 showed a one-sample
            # spike of +2-3 GB (cause not verified; a spawned child
            # sharing the JVM's pages would read so)
            "peak_rss_mb": {"value": statistics.median(peaks) / 2**20,
                            "unit": "MB"},
            "output_bytes_per_input_byte": {
                "value": statistics.median(ratios), "unit": "ratio"},
        },
    }


def main() -> int:
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    import sparkenv
    import workloads
    from proctree import host_probe

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", required=True,
                    help="Spark master, e.g. local[2]; pinned, never derived "
                         "from the host's CPU count")
    ap.add_argument("--cpus", type=int, required=True,
                    help="SPARK_GRAFT_CPUS for the session factory")
    ap.add_argument("--local-dirs", required=True,
                    help="SPARK_LOCAL_DIRS (shuffle and spill files)")
    args = ap.parse_args()

    shutil.rmtree(WORK, ignore_errors=True)
    sparkenv.configure(WORK, args.cpus, args.local_dirs,
                       event_log=bool(args.trace))
    probe_before = host_probe()
    if args.trace:
        from ledger import traced_run
        result = traced_run(args, WORK)
    else:
        from pdf_extractor_spark.session import get_spark
        spark = get_spark("perfbench", master=args.master)
        try:
            wl = workloads.make(args.workload,
                                workloads.SIZES[args.workload])
            wl.prepare(os.path.join(WORK, "in"), args.seed)
            result = end_to_end(args, spark, wl)
        finally:
            sparkenv.stop(spark)
    print(json.dumps({"host_probe_loops_per_s": [probe_before, host_probe()]}),
          file=sys.stderr)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
