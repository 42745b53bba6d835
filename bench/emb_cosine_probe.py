"""One-window probe of the `dedup_embedding_cosine` candidate-generation
stage: the cost of the hot-bucket occupancy pass, timed interleaved in
ONE host window.

  capped    — the production path (`_bucket_capped`: map-side occupancy
              aggregate + broadcast anti-join)
  uncapped  — a straight self-join, no occupancy pass

Interleaved variants x --repeat rounds; median per variant printed as one
JSON line.  Every variant verifies with the production `emb_dot_udf`; the
pair set is checked once against an all-pairs DuckDB brute force
(`DOT_D`/`NORM_D`/`COS`) over the same quantized rows.  Run on an
otherwise-idle box.

Usage: python bench/emb_cosine_probe.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _base(spark, sf_dir):
    import pyspark.sql.functions as F

    from pdf_extractor_spark.corpus import (PPB_DEDUP, QUANT_S, _persist,
                                            _with_bands_nrm)
    from pdf_extractor_spark.queries import t
    e = t(spark, sf_dir, "embeddings")
    perturbed = F.expr(
        "transform(sequence(1, 64), i -> CASE WHEN i <= 8 "
        "THEN CAST(floor(CAST(element_at(embedding, i) AS DOUBLE) * 10000 * 0.9) AS BIGINT) "
        "ELSE CAST(floor(CAST(element_at(embedding, i) AS DOUBLE) * 10000) AS BIGINT) END)")
    base = (
        e.select("vec_id", F.expr(QUANT_S).alias("qv"))
        .unionByName(
            e.filter(F.col("vec_id") % 4 == 0)
            .select((F.col("vec_id") + 100000).alias("vec_id"),
                    perturbed.alias("qv")))
    )
    # sign-LSH bands + self-norm from the Arrow emb_bands_nrm_udf
    return _persist(_with_bands_nrm(base, PPB_DEDUP))


def _verify(b, cand):
    import pyspark.sql.functions as F

    from pdf_extractor_spark.corpus import COS, emb_dot_udf
    va = b.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"),
                  F.col("nrm").alias("na"))
    vb = b.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"),
                  F.col("nrm").alias("nb"))
    return (cand.join(va, "vec_a").join(vb, "vec_b")
            .withColumn("dot", emb_dot_udf()(F.col("qa"), F.col("qb")))
            .withColumn("cos_sim", F.expr(COS))
            .filter(F.col("cos_sim") >= 0.98)
            .select("vec_a", "vec_b", "cos_sim"))


def brute_pairs(spark, sf_dir) -> set:
    """All-pairs >= 0.98 cosine pairs over the probe's quantized rows,
    computed by DuckDB."""
    import duckdb

    from pdf_extractor_spark.corpus import COS, DOT_D, NORM_D
    rows = [(r.vec_id, list(r.qv))
            for r in _base(spark, sf_dir).select("vec_id", "qv").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE q (vec_id BIGINT, qv BIGINT[])")
    con.executemany("INSERT INTO q VALUES (?, ?)", rows)
    return set(con.execute(f"""
        WITH n AS (
          SELECT vec_id, qv, (SELECT {NORM_D} FROM (SELECT qv AS q) x) AS nrm
          FROM q),
        p AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.qv AS qa,
                 b.qv AS qb, a.nrm AS na, b.nrm AS nb
          FROM n a JOIN n b ON a.vec_id < b.vec_id),
        d AS (SELECT vec_a, vec_b, na, nb, {DOT_D} AS dot FROM p)
        SELECT vec_a, vec_b FROM d WHERE {COS} >= 0.98""").fetchall())


def run_capped(spark, sf_dir):
    from pdf_extractor_spark.corpus import emb_band_candidates
    b = _base(spark, sf_dir)
    cand, _ = emb_band_candidates(b)
    return _verify(b, cand)


def run_uncapped(spark, sf_dir):
    import pyspark.sql.functions as F
    b = _base(spark, sf_dir)
    ex = b.select("vec_id", F.posexplode("bands").alias("band_idx", "bucket"))
    a, y = ex.alias("a"), ex.alias("y")
    cand = (a.join(y, (F.col("a.band_idx") == F.col("y.band_idx"))
                   & (F.col("a.bucket") == F.col("y.bucket"))
                   & (F.col("a.vec_id") < F.col("y.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("y.vec_id").alias("vec_b"))
            .distinct())
    return _verify(b, cand)


VARIANTS = {"capped": run_capped, "uncapped": run_uncapped}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args(argv)

    from pdf_extractor_spark.session import get_spark
    spark = get_spark("emb_cosine_probe")
    times: dict[str, list] = {k: [] for k in VARIANTS}
    counts = {}
    # one untimed warm-up so codegen/python-worker startup is excluded
    run_capped(spark, args.sf).count()
    for _ in range(args.repeat):
        for name, fn in VARIANTS.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            counts[name] = fn(spark, args.sf).count()
            times[name].append(round(time.perf_counter() - t0, 3))
    assert len(set(counts.values())) == 1, counts  # identical results
    got = {(r.vec_a, r.vec_b) for r in run_capped(spark, args.sf).collect()}
    want = brute_pairs(spark, args.sf)
    assert got <= want, sorted(got - want)[:5]   # exact verify
    print(json.dumps({
        "sf": args.sf, "pairs": counts["capped"], "brute_pairs": len(want),
        "median_s": {k: statistics.median(v) for k, v in times.items()},
        "all_s": times,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
