"""Nothing depends on the checkout path or on who created the session:
the Python workers find the package through the executor env, and the
extract_pipeline oracle locates its golden relative to the package."""

import os
import re
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_passes_package_parent_to_executors(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.executorEnv.PYTHONPATH") == REPO


def test_extract_golden_path_follows_the_checkout(tmp_path):
    """A copy of the package elsewhere names ITS golden, not this one."""
    copy = tmp_path / "checkout"
    shutil.copytree(os.path.join(REPO, "pdf_extractor_spark"),
                    copy / "pdf_extractor_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    golden = os.path.join("tests", "golden", "extract_spans.parquet")
    (copy / "tests" / "golden").mkdir(parents=True)
    shutil.copy(os.path.join(REPO, golden), copy / golden)
    sql = subprocess.run(
        [sys.executable, "-c",
         "from pdf_extractor_spark.queries import REGISTRY; "
         "import pdf_extractor_spark.corpus; "
         "print(REGISTRY['extract_pipeline'].sql)"],
        cwd=copy, env={**os.environ, "PYTHONPATH": str(copy)},
        capture_output=True, text=True, check=True).stdout
    (path,) = re.findall(r"read_parquet\('([^']+)'\)", sql)
    assert path == str(copy / golden)
    assert os.path.exists(path)
    assert REPO not in path
