"""The benchmark's workloads: seeded inputs, one end-to-end iteration each,
and the checks that decide whether an iteration's output is correct.

Inputs are written with pyarrow as ``INPUT_FILES`` parquet files, so the
same seed gives byte-identical inputs and the same Spark scan splits.
The program under test only ever sees that parquet.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extractor_spark import corpus, gen, oracle
from pdf_extractor_spark.plans import pipeline

INPUT_FILES = 4
DUP_EVERY = 10   # every DUP_EVERY-th base row gets one exact copy
TEXT_WORDS = 30
EMB_DIM = corpus.EMB_DIM

SPAN_TYPE = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                ("media_ref", pa.string()),
                                ("offset", pa.int32())]))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` as INPUT_FILES contiguous row slices; returns bytes."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return dir_bytes(path)


class ExtractMixed:
    """``run_extraction`` over the default archetype mix (0.5 % jumbo,
    ~1 % corrupt docs) into a fresh output dir."""

    name = "extract_mixed"

    def __init__(self, n_docs: int):
        self.n = n_docs

    def prepare(self, work: str, seed: int) -> None:
        self.input = f"{work}/docs"
        self.docs = gen.gen_corpus(self.n, seed=seed)
        table = pa.table({"doc_id": [d["doc_id"] for d in self.docs],
                          "spans": [d["spans"] for d in self.docs]},
                         schema=pa.schema([("doc_id", pa.string()),
                                           ("spans", SPAN_TYPE)]))
        self.input_bytes = write_parquet(table, self.input)
        self.golden = oracle.run_oracle(self.docs)
        self.span_total = sum(len(v) for v in self.golden.values())
        self.corrupt = gen.corrupt_count(self.docs)

    @property
    def rows(self) -> int:
        return self.n

    def run(self, spark, out: str) -> dict:
        return pipeline.run_extraction(spark, self.input, out, resume=False)

    def check(self, m: dict) -> list[str]:
        want = {"docs_total_committed": self.n, "spans_total": self.span_total,
                "parse_failures": self.corrupt, "validation_violations": 0}
        return [f"{k}={m.get(k)} want {v}" for k, v in want.items()
                if m.get(k) != v]

    def check_output(self, out: str) -> list[str]:
        """Every doc's written (kind, text, media_ref, offset) sequence
        equals the oracle's."""
        import pyarrow.dataset as ds
        t = ds.dataset(f"{out}/{pipeline.EXTRACTED_SUBDIR}", format="parquet",
                       partitioning="hive").to_table(columns=["doc_id", "spans"])
        got = dict(zip(t.column("doc_id").to_pylist(),
                       t.column("spans").to_pylist()))
        errs = []
        if len(got) != len(self.golden) or t.num_rows != len(self.golden):
            errs.append(f"docs written {t.num_rows}, distinct {len(got)}, "
                        f"want {len(self.golden)}")
        for doc_id, spans in self.golden.items():
            if got.get(doc_id) != spans:
                errs.append(f"span sequence differs for {doc_id}")
                break
        return errs


def text_rows(n: int, seed: int) -> pa.Table:
    """The dedup_scale_smoke text recipe with a seed: ``n`` base rows of
    TEXT_WORDS md5-derived words, and an exact copy (id + n) of every
    DUP_EVERY-th row."""
    texts = [" ".join(hashlib.md5(f"{seed}:{i}_{j}".encode()).hexdigest()[:8]
                      for j in range(TEXT_WORDS)) for i in range(n)]
    dup = list(range(0, n, DUP_EVERY))
    return pa.table({"doc_id": pa.array(list(range(n)) + [i + n for i in dup],
                                        pa.int64()),
                     "text": texts + [texts[i] for i in dup]})


def vec_rows(n: int, seed: int) -> pa.Table:
    """The dedup_scale_smoke vector recipe with a seed: ``n`` base rows of
    EMB_DIM signed components k/997 - 0.5, and an exact copy (id + n) of
    every DUP_EVERY-th row."""
    rng = np.random.default_rng(seed)
    base = (rng.integers(0, 997, size=(n, EMB_DIM)) / 997.0 - 0.5
            ).astype(np.float32)
    dup = np.arange(0, n, DUP_EVERY)
    vecs = np.concatenate([base, base[dup]])
    ids = np.concatenate([np.arange(n), dup + n]).astype(np.int64)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    return pa.table({"vec_id": ids, "embedding": emb.cast(pa.list_(pa.float32()))})


class _Dedup:
    """A production dedup run over a corpus with planted exact copies: the
    planted ids are the only non-canonical rows."""

    dropped_key = ""
    id_col = ""

    def __init__(self, n_base: int):
        self.n = n_base

    def table(self, seed: int) -> pa.Table:
        raise NotImplementedError

    def prepare(self, work: str, seed: int) -> None:
        self.input = f"{work}/{self.name}"
        t = self.table(seed)
        self.rows = t.num_rows
        self.planted = {i + self.n for i in range(0, self.n, DUP_EVERY)}
        self.input_bytes = write_parquet(t, self.input)

    def check(self, m: dict) -> list[str]:
        p = len(self.planted)
        want = {"pairs": p, "non_canonical": p, self.dropped_key: 0,
                "cc_converged": True}
        return [f"{k}={m.get(k)} want {v}" for k, v in want.items()
                if m.get(k) != v]

    def check_output(self, out: str) -> list[str]:
        t = pq.read_table(f"{out}/decisions")
        mask = np.logical_not(t.column("is_canonical").to_numpy())
        got = set(t.column(self.id_col).to_numpy()[mask].tolist())
        return [] if got == self.planted else [
            f"non-canonical ids differ from planted: {len(got ^ self.planted)}"]


class DedupTexts(_Dedup):
    name = "dedup_texts"
    dropped_key = "dropped_hot_bands"
    id_col = "doc_id"

    def table(self, seed: int) -> pa.Table:
        return text_rows(self.n, seed)

    def run(self, spark, out: str) -> dict:
        return corpus.dedup_texts_run(spark, self.input, out)


class DedupEmbeddings(_Dedup):
    name = "dedup_embeddings"
    dropped_key = "dropped_hot_buckets"
    id_col = "vec_id"

    def table(self, seed: int) -> pa.Table:
        return vec_rows(self.n, seed)

    def run(self, spark, out: str) -> dict:
        return corpus.dedup_embeddings_run(spark, self.input, out)


# The workloads a run can be asked for, and the input size (docs, or base
# rows before the planted copies) of each.  A warm iteration takes about
# 4-5 s at local[2]; most of it is the fixed cost of the jobs' Spark
# stages, so the sizes are as large as the run's time budget allows.
# dedup_embeddings is measured only in the traced ledger (README.md).
WORKLOADS = ("extract_mixed", "dedup_texts")
SIZES = {"extract_mixed": 4000, "dedup_texts": 30000, "dedup_embeddings": 4000}
# Inputs of the layers a traced run measures besides its own workload's.
PROBE_SIZES = {"extract_mixed": 200, "dedup_texts": 2000,
               "dedup_embeddings": 4000}


def make(name: str, n: int):
    return {"extract_mixed": ExtractMixed, "dedup_texts": DedupTexts,
            "dedup_embeddings": DedupEmbeddings}[name](n)
