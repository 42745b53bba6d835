"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
compact JSON line on stdout::

    {"metric":"...","value":N,"unit":"sec","queries":{...},"sf":...}

``value`` is the suite wall seconds (sum of per-query medians);
``extract_docs_per_sec`` reports the flagship extraction throughput
(BASELINE.json metric).  Every query is fully materialized via the JVM-side
``noop`` sink so lazy plans can't fake speed (a ``count()`` would let Spark
prune the computed columns away).

Noise protocol (VERDICT r4 item 4): the whole suite runs ``--repeat``
INTERLEAVED rounds (round-robin over queries, the same matched-window
discipline as bench/scaling.py) and each query reports its MEDIAN.  The
per-query ``[min, max]`` bands go to stderr as their own JSON line
(``{"queries_band": {...}}``) — a cross-round delta inside the band is
host noise, not a regression.  The stdout line carries medians only and
is checked under ``MAX_LINE`` characters, so a reader that keeps only
the last 2000 characters of output still gets the whole record.

Usage: python bench.py [--sf-dir DIR] [--master local[N]] [--queries a,b,c]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


MAX_LINE = 1800   # stdout record budget, under a 2000-char output tail


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_record(timings: dict, *, reps: int, wall_all: float, sf_dir: str,
                 n_docs: int, master: str) -> dict:
    """The stdout record from per-query median seconds ``timings``."""
    extract_s = timings.get("extract_pipeline")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "suite wall seconds over all registered queries "
                  "(extraction + relational + dedup/ANN/text corpus ops); "
                  "per-query median over interleaved rounds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "wall_s_all_reps": wall_all,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "docs": n_docs,
        "extract_docs_per_sec": (round(n_docs / extract_s, 1)
                                 if extract_s else None),
        "master": master,
    }


def record_line(record: dict) -> str:
    """``record`` as one compact JSON line; raises if it is not under
    MAX_LINE characters."""
    line = json.dumps(record, separators=(",", ":"))
    if len(line) >= MAX_LINE:
        raise ValueError(f"bench record is {len(line)} chars, "
                         f"limit {MAX_LINE}")
    return line


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--master", default=None)
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset (default: all registered)")
    ap.add_argument("--repeat", type=int, default=3,
                    help="interleaved rounds; per-query median is reported")
    args = ap.parse_args(argv)

    from pdf_extractor_spark.queries import REGISTRY
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("bench", master=args.master)
    sf_dir = args.sf_dir
    names = (args.queries.split(",") if args.queries else sorted(REGISTRY))

    # warm the JVM + parquet footers so query timings measure the plans
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    # The flagship metric is extraction docs/sec (BASELINE.json).  Run it
    # once untimed so the first timed measurement is not paying one-time
    # costs that a long-running cluster job never sees per-batch: Python
    # worker fork + import, Arrow codepath JIT, page-cache fill.  Then
    # time it FIRST, before the dedup/ANN queries fill the old-gen with
    # persisted blocks — ordering inside one shared JVM must not tax the
    # headline number.
    if "extract_pipeline" in names:
        materialize(REGISTRY["extract_pipeline"].spark(spark, sf_dir))
        names.remove("extract_pipeline")
        names.insert(0, "extract_pipeline")

    reps: dict[str, list[float]] = {n: [] for n in names}
    t_all = time.perf_counter()
    for _round in range(max(1, args.repeat)):
        for name in names:
            t0 = time.perf_counter()
            materialize(REGISTRY[name].spark(spark, sf_dir))
            reps[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()  # a query's persists must not tax the next
    wall_all = round(time.perf_counter() - t_all, 3)
    timings = {n: round(statistics.median(r), 3) for n, r in reps.items()}
    bands = {n: [round(min(r), 3), round(max(r), 3)] for n, r in reps.items()}

    # leading newline: progress bars leave stderr mid-line
    print("\n" + json.dumps({"queries_band": bands}, separators=(",", ":")),
          file=sys.stderr)
    print(record_line(build_record(
        timings, reps=max(1, args.repeat), wall_all=wall_all, sf_dir=sf_dir,
        n_docs=n_docs, master=spark.sparkContext.master)))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
