"""Skew-safe occupancy counting (VERDICT r4 item 5).

``_occupancy_capped`` counts block occupancy with a map-side-combining
hash aggregate: no task ever ingests a whole hot key (per-key reducer
input is one thin partial row per map task), and the kept split is a
broadcast anti-join against the tiny over-cap key set.

The adversarial fixture here is one 10^5-row hot key beside normal keys;
asserts: the split is the fixture's known truth, and the counting plan
has no Window operator and combines partials map-side (partial_count
below the Exchange).
"""

import contextlib
import io
import re

import pyspark.sql.functions as F

HOT_N = 100_000
CAP = 4096


def _fixture(spark):
    """One 10^5-row hot key (0) + 50 keys of 10 rows, spread over many
    input partitions so map-side partials genuinely exist."""
    hot = spark.range(HOT_N).select(F.lit(0).alias("k"),
                                    F.col("id").alias("v"))
    cold = (spark.range(500)
            .select((F.col("id") % 50 + 1).alias("k"),
                    (F.col("id") + HOT_N).alias("v")))
    return hot.unionByName(cold).repartition(16)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_skew_safe_split_equals_window_split(spark):
    """The split is the fixture's truth: every cold row kept, the hot
    key alone dropped with its full count."""
    from pdf_extractor_spark.corpus import _occupancy_capped
    kept, dropped = _occupancy_capped(_fixture(spark), ["k"], CAP)
    assert sorted(r.v for r in kept.collect()) == \
           list(range(HOT_N, HOT_N + 500))
    assert {(r.k, r.bsz) for r in dropped.collect()} == {(0, HOT_N)}


def test_skew_safe_counts_map_side_no_window(spark):
    """Structural guarantee that no task ingests the full hot key: the
    occupancy count is a partial_count HashAggregate BELOW the exchange
    (each of the 16 input partitions emits one thin row per key, so the
    hot key's reducer input is <= 16 rows, not 10^5), and no Window
    operator appears anywhere in either output's plan."""
    from pdf_extractor_spark.corpus import _occupancy_capped
    df = _fixture(spark)
    kept, dropped = _occupancy_capped(df, ["k"], CAP)
    for out in (kept, dropped):
        p = _plan(out)
        assert "Window" not in p
    p = _plan(dropped)
    assert "partial_count" in p
    # partial aggregate streams above the scan, final above the exchange
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2
    # and the kept side reaches the big table via a broadcast anti-join,
    # never a shuffle of the exploded rows by the skewed key
    pk = _plan(kept)
    assert "BroadcastHashJoin" in pk and "LeftAnti" in pk
