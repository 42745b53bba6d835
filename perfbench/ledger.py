"""The traced run: a per-layer ledger taken from outside the program.

Each layer is timed around the benchmark's own calls into that module's
public functions.  A span (name, start, end, parent) wraps every call;
its name is also the Spark job group of the jobs it launches, so the
event log (switched on at launch, see ``run.py``) attributes Spark's
task counters to layers.  Layers are named after the repo's modules:

    session    pdf_extractor_spark/session.py
    core       pdf_extractor_spark/core/
    operators  pdf_extractor_spark/operators/extraction.py
    catalog    pdf_extractor_spark/sources/catalog.py
    pipeline   pdf_extractor_spark/plans/pipeline.py
    corpus     the production dedup runs in pdf_extractor_spark/corpus.py

A traced run measures every layer: the traced workload's own layers on
its full-size input, the other layers on small inputs, so that every
ledger metric exists in every traced run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time

import sparkenv
import workloads
from proctree import cpu_s

SPARK_LAYERS = ("operators", "catalog", "pipeline", "corpus")
# Task counters summed from the event log.  Task GC time is not among
# them: with the fixed 2 GB young generation (sparkenv.JVM_OPTS) it
# reads 0 in nearly every layer call.  The spans record the JVM's
# allocated bytes instead, which is what drives GC.
EVENT_COUNTERS = ("shuffle_write_mb", "spill_mb", "executor_cpu_s")


class Tracer:
    """Spans kept in memory; a span's name is also its Spark job group."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.sc = None
        self._threads = None

    def attach(self, sc) -> None:
        """Tag later spans' jobs and count the JVM's allocation."""
        self.sc = sc
        self._threads = (sc._jvm.java.lang.management.ManagementFactory
                         .getThreadMXBean())

    def _jvm_alloc_mb(self) -> float:
        if self._threads is None:
            return 0.0
        return self._threads.getTotalThreadAllocatedBytes() / 2**20

    def _group(self, name: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", name)
            self.sc.setLocalProperty("spark.job.description", name)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0}
        self._stack.append(name)
        self._group(name)
        c0, a0 = cpu_s(), self._jvm_alloc_mb()
        try:
            yield rec
        finally:
            rec["cpu_s"] = cpu_s() - c0
            rec["jvm_alloc_mb"] = self._jvm_alloc_mb() - a0
            rec["end"] = time.perf_counter() - self.t0
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)


def to_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ledger:
    def __init__(self, tracer: Tracer, work: str):
        self.tr = tracer
        self.work = work
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (value, unit)

    def check(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    # -- extraction layers ---------------------------------------------------

    def core(self, docs: list[dict]) -> float:
        """Single-threaded per-doc phases; returns extract_document s/doc."""
        from pdf_extractor_spark.core import pdfheur
        from pdf_extractor_spark.core.extract import extract_document
        from pdf_extractor_spark.core.htmlheur import (classify_html_blocks,
                                                       tokenize_html)
        from pdf_extractor_spark.core.tokenize import (ParseError,
                                                       parse_pdf_page_stream)
        n = len(docs)
        out_spans = 0
        with self.tr.span("core.extract_document") as sp:
            for d in docs:
                out_spans += len(extract_document(d["spans"])[0])
        per_doc = sp["wall_s"] / n
        self.put("core.extract_document_us_per_doc", per_doc * 1e6, "us")
        self.put("core.out_spans_per_doc", out_spans / n, "count")

        pdf_docs = []
        with self.tr.span("core.tokenize") as sp:
            for d in docs:
                blocks = []
                try:
                    for s in d["spans"]:
                        if s["kind"] == "pdf_page":
                            blocks.extend(parse_pdf_page_stream(
                                s["text"] or "", src_span=s["offset"]))
                except ParseError:
                    continue
                if blocks:
                    pdf_docs.append(blocks)
        self.put("core.tokenize_us_per_doc", sp["wall_s"] / n * 1e6, "us")
        with self.tr.span("core.pdfheur") as sp:
            for blocks in pdf_docs:
                pdfheur.extract_pdf_document(blocks)
        self.put("core.pdfheur_us_per_doc", sp["wall_s"] / n * 1e6, "us")
        with self.tr.span("core.htmlheur") as sp:
            for d in docs:
                for s in d["spans"]:
                    if s["kind"] == "html":
                        classify_html_blocks(tokenize_html(
                            s["text"] or "", src_span=s["offset"]))
        self.put("core.htmlheur_us_per_doc", sp["wall_s"] / n * 1e6, "us")
        return per_doc

    def extraction(self, spark, wl, core_s_per_doc: float) -> None:
        """operators, pipeline and catalog over one extraction input."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pdf_extractor_spark.operators.extraction import (
            extract_operator, num_partitions_for)
        from pdf_extractor_spark.plans import pipeline
        from pdf_extractor_spark.sources import catalog

        n = wl.rows
        parts = num_partitions_for(n, spark.sparkContext.defaultParallelism)
        with self.tr.span("operators.extract_noop") as sp:
            to_noop(extract_operator(catalog.read_documents(spark, wl.input),
                                     parts))
        self.put("operators.extract_noop_s", sp["wall_s"], "s")
        self.put("operators.extract_noop_cpu_s", sp["cpu_s"], "s")
        self.put("operators.arrow_overhead_cpu_s",
                 sp["cpu_s"] - n * core_s_per_doc, "s")
        noop_s = sp["wall_s"]

        out = os.path.join(self.work, "trace_extract")
        with self.tr.span("pipeline.run_extraction") as sp:
            m = pipeline.run_extraction(spark, wl.input, out, resume=False)
        self.check(wl.check(m))
        self.check(wl.check_output(out))
        run_s = sp["wall_s"]
        self.put("pipeline.run_extraction_s", run_s, "s")
        with self.tr.span("pipeline.validate") as sp:
            v = pipeline.validate_extracted(
                pipeline.read_extracted(spark, out)).collect()
        self.check([] if sum(r.docs_checked for r in v) == n
                    and sum(r.violations for r in v) == 0
                    else ["validate_extracted disagrees"])
        self.put("pipeline.validate_s", sp["wall_s"], "s")
        self.put("pipeline.other_s", run_s - noop_s - sp["wall_s"], "s")
        self.put("pipeline.lineage_rows",
                 pipeline.read_lineage(spark, out).count(), "count")
        with self.tr.span("pipeline.resume_noop") as sp:
            m2 = pipeline.run_extraction(spark, wl.input, out, resume=True)
        self.check([] if m2["skipped_committed"] == m["committed_partitions"]
                   and m2["docs_total_committed"] == n
                   else [f"resume re-ran work: {m2}"])
        self.put("pipeline.resume_noop_s", sp["wall_s"], "s")

        # the extracted rows, minus the per-doc timing column, in doc_id
        # order: a write input whose bytes repeat exactly run to run
        t = ds.dataset(f"{out}/{pipeline.EXTRACTED_SUBDIR}", format="parquet",
                       partitioning="hive").to_table()
        # (without Spark's schema metadata, which still names proc_us)
        t = t.drop_columns(["proc_us"]).sort_by("doc_id") \
            .replace_schema_metadata(None)
        t = t.set_column(t.schema.get_field_index("part_id"), "part_id",
                         t.column("part_id").cast(pa.int32()))
        src = os.path.join(self.work, "catalog_in")
        workloads.write_parquet(t, src)
        dst = os.path.join(self.work, "catalog_out")
        with self.tr.span("catalog.write") as sp:
            catalog.write_partitioned(spark.read.parquet(src), dst, ["part_id"])
        self.put("catalog.write_s", sp["wall_s"], "s")
        self.put("catalog.bytes_written", workloads.dir_bytes(dst), "bytes")

    # -- corpus layer --------------------------------------------------------

    def texts(self, spark, wl) -> str:
        from pyspark.sql import functions as F

        from pdf_extractor_spark import corpus
        bits = corpus.simhash_band_bits(
            corpus.estimate_parquet_rows(spark, wl.input))
        d = spark.read.parquet(wl.input)
        with self.tr.span("corpus.texts.sig") as sp:
            to_noop(d.filter(F.expr(f"size({corpus.WORDS_S}) >= 1")).select(
                "doc_id", corpus.simhash_bands_udf(bits)(F.col("text"))))
        self.put("corpus.texts.sig_s", sp["wall_s"], "s")
        out = os.path.join(self.work, "trace_texts")
        with self.tr.span("corpus.texts.run") as sp:
            self.check(wl.check(wl.run(spark, out)))
        self.check(wl.check_output(out))
        self.put("corpus.texts.run_s", sp["wall_s"], "s")
        spark.catalog.clearCache()
        return out

    def embeddings(self, spark, wl) -> None:
        from pyspark.sql import functions as F

        from pdf_extractor_spark import corpus
        ppb = corpus.emb_lsh_geometry(
            corpus.estimate_parquet_rows(spark, wl.input))
        q = spark.read.parquet(wl.input).select(
            "vec_id", F.expr(corpus.QUANT_S).alias("qv"))
        bn = corpus.emb_bands_nrm_udf(ppb)(F.col("qv"))
        b = q.select("vec_id", "qv", bn.getField("bands").alias("bands"),
                     bn.getField("nrm").alias("nrm"))
        with self.tr.span("corpus.emb.sig") as sp:
            to_noop(b)
        self.put("corpus.emb.sig_s", sp["wall_s"], "s")
        with self.tr.span("corpus.emb.bands_cache"):
            b = b.persist()
            b.count()
        with self.tr.span("corpus.emb.candidates") as sp:
            cand, _ = corpus.emb_band_candidates(b)
            cand = cand.persist()
            n_cand = cand.count()
        self.put("corpus.emb.candidates_s", sp["wall_s"], "s")
        self.put("corpus.emb.candidates_per_row", n_cand / wl.rows, "count")
        va = b.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"),
                      F.col("nrm").alias("na"))
        vb = b.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"),
                      F.col("nrm").alias("nb"))
        with self.tr.span("corpus.emb.verify") as sp:
            n_pairs = (cand.join(va, "vec_a").join(vb, "vec_b")
                       .withColumn("dot", corpus.emb_dot_udf()(F.col("qa"),
                                                              F.col("qb")))
                       .withColumn("cos_sim", F.expr(corpus.COS))
                       .filter(F.col("cos_sim") * 100 >= 98).count())
        self.check([] if n_pairs == len(wl.planted)
                   else [f"verified pairs {n_pairs} want {len(wl.planted)}"])
        self.put("corpus.emb.verify_s", sp["wall_s"], "s")
        self.put("corpus.emb.verify_yield", n_pairs / n_cand, "ratio")
        spark.catalog.clearCache()
        out = os.path.join(self.work, "trace_emb")
        with self.tr.span("corpus.emb.run") as sp:
            self.check(wl.check(wl.run(spark, out)))
        self.check(wl.check_output(out))
        self.put("corpus.emb.run_s", sp["wall_s"], "s")
        spark.catalog.clearCache()

    def components(self, spark, pairs_dir: str, a: str, b: str) -> None:
        from pyspark.sql import functions as F

        from pdf_extractor_spark import corpus
        p = spark.read.parquet(f"{pairs_dir}/pairs")
        edges = (p.select(F.col(a).alias("src"), F.col(b).alias("dst"))
                 .unionByName(p.select(F.col(b).alias("src"),
                                       F.col(a).alias("dst"))))
        with self.tr.span("corpus.components") as sp:
            _, cc = corpus.min_label_components_fixpoint(edges)
        self.check([] if cc["cc_converged"] else [f"components: {cc}"])
        self.put("corpus.components_s", sp["wall_s"], "s")
        self.put("corpus.cc_rounds", cc["cc_rounds"], "count")
        spark.catalog.clearCache()


def read_event_log(ev_dir: str) -> dict[str, dict[str, float]]:
    """Task counters summed per job group from the uncompressed event log."""
    stage_group: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(ev_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g or "untraced"
                elif ev == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    g = stage_group.get(e["Stage ID"], "untraced")
                    s = sums.setdefault(g, {"shuffle_write_mb": 0.0,
                                            "spill_mb": 0.0, "gc_s": 0.0,
                                            "executor_cpu_s": 0.0, "tasks": 0})
                    sw = tm.get("Shuffle Write Metrics") or {}
                    s["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    s["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
                    s["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    s["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    s["tasks"] += 1
    return sums


def traced_run(args, work: str) -> dict:
    from pdf_extractor_spark.session import get_spark

    tr = Tracer()
    with tr.span("session.get_spark") as sp:
        spark = get_spark("perfbench", master=args.master)
    tr.attach(spark.sparkContext)
    lg = Ledger(tr, work)
    lg.put("session.get_spark_s", sp["wall_s"], "s")
    try:
        wls = {}
        for name, n in workloads.SIZES.items():
            if name != args.workload:
                n = workloads.PROBE_SIZES[name]
            wls[name] = workloads.make(name, n)
            wls[name].prepare(os.path.join(work, "in"), args.seed)

        # the traced workload end to end: two warm-ups, then one traced
        own = wls[args.workload]
        out = os.path.join(work, "out")
        for name in ("e2e.warmup", "e2e.warmup", "e2e"):
            sparkenv.reset(spark, out)
            with tr.span(name) as sp:
                lg.check(own.check(own.run(spark, out)))
        sparkenv.reset(spark, out)
        lg.put("trace.e2e_iter_s", sp["wall_s"], "s")

        core_s = lg.core(wls["extract_mixed"].docs)
        lg.extraction(spark, wls["extract_mixed"], core_s)
        texts_out = lg.texts(spark, wls["dedup_texts"])
        lg.embeddings(spark, wls["dedup_embeddings"])
        lg.components(spark, texts_out, "doc_a", "doc_b")

        # what the tracing wrappers themselves cost: one empty span each
        t0 = time.perf_counter()
        for _ in range(100):
            with tr.span("trace.empty"):
                pass
        per_span = (time.perf_counter() - t0) / 100
        tr.spans = [s for s in tr.spans if s["name"] != "trace.empty"]
        lg.put("trace.span_overhead_s", per_span * len(tr.spans), "s")
    finally:
        sparkenv.stop(spark)

    groups = read_event_log(os.path.join(work, "eventlog"))
    layers: dict[str, dict[str, float]] = {}
    for g, c in groups.items():
        acc = layers.setdefault(g.split(".")[0], dict.fromkeys(c, 0.0))
        for k, v in c.items():
            acc[k] += v
    for sp in tr.spans:
        acc = layers.setdefault(sp["name"].split(".")[0], {})
        acc["jvm_alloc_mb"] = acc.get("jvm_alloc_mb", 0.0) + sp["jvm_alloc_mb"]
    for layer in SPARK_LAYERS:
        for k in EVENT_COUNTERS + ("jvm_alloc_mb",):
            lg.put(f"{layer}.{k}", layers.get(layer, {}).get(k, 0.0),
                   "s" if k.endswith("_s") else "MB")

    print(json.dumps({"ledger": {
        "workload": args.workload, "seed": args.seed,
        "spans": tr.spans, "job_groups": groups, "layers": layers}}))
    for e in lg.errors[:20]:
        print("FAILED:", e, file=sys.stderr)
    return {"correct": not lg.failed, "attempted": lg.attempted,
            "failed": lg.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in lg.metrics.items()}}
