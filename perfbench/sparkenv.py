"""Launch settings, hygiene between iterations, and shutdown of the Spark
session the benchmark drives through the program's ``get_spark``."""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import signal
import time

from proctree import descendants

# Fixed JVM heap sizing.  Left to itself, G1 shrinks the heap at every
# System.gc() between iterations and resizes heap and young generation
# differently in each process: measured on dedup_texts, processes then
# differed by 2x in GC count and JVM CPU per iteration.  A 2 GB young
# generation holds one iteration's allocation, so the timed iterations
# run without GC pauses.  The maximum heap stays get_spark's.
JVM_OPTS = "-Xms3g -Xmn2g"


def configure(work: str, cpus: int, local_dirs: str, event_log: bool) -> None:
    """Pin parallelism and keep every file Spark writes inside ``work``,
    through the environment the session factory and spark-submit read.
    ``event_log`` switches Spark's event log on at launch, uncompressed
    and as one plain JSON-lines file."""
    local = os.path.abspath(local_dirs)
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too) would otherwise write
    # /tmp/hsperfdata_<user>, which ignores java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"{JVM_OPTS} -Djava.io.tmpdir={tmp}"}
    if event_log:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{ev}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{k}={v}'" for k, v in conf.items()) + " pyspark-shell"


def reset(spark, out: str) -> None:
    """Outside timing: drop cached data and the last output, collect
    garbage in Python and in the JVM."""
    spark.catalog.clearCache()
    shutil.rmtree(out, ignore_errors=True)
    gc.collect()
    spark._jvm.System.gc()


def stop(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process it started
    (the JVM, the Python daemon and its workers) has ended."""
    from pyspark import SparkContext
    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()   # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)
