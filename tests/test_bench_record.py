"""The bench.py stdout record stays one parseable line under MAX_LINE
characters for the full registry, so a reader keeping only the last
2000 characters of the run's output still gets the whole record.
No Spark session: the record is built from synthetic timings."""

import importlib.util
import json
import os

from pdf_extractor_spark.queries import REGISTRY

BENCH_PY = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "bench.py")


def _bench():
    spec = importlib.util.spec_from_file_location("bench", BENCH_PY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_record_line_fits_for_every_registry_query():
    bench = _bench()
    # widest plausible values: 4-digit medians for every registered query
    timings = {name: 9999.999 for name in sorted(REGISTRY)}
    rec = bench.build_record(timings, reps=5, wall_all=99999.999,
                             sf_dir="data/sf0.1", n_docs=5000,
                             master="local[32]")
    line = bench.record_line(rec)
    assert "\n" not in line
    assert len(line) < bench.MAX_LINE <= 1800
    back = json.loads(line)
    assert set(back["queries"]) == set(REGISTRY)
    assert back["n_queries"] == len(REGISTRY)
    assert back["sf"] == 0.1
    assert "queries_band" not in back
