"""Fuzzed cross-engine parity of the signature kernels.

The minhash/shingle signatures are single let-bound SQL expressions
(corpus.let1); the simhash bands, sign-LSH bands, verify dots and k-means
argmax are Arrow-batched numpy kernels.  These tests pin both against
independent pure-python replicas or the DuckDB oracle forms over
adversarial inputs (empty, repeated separators, unicode, 1-2 word docs,
duplicate words; negative/zero vectors, tied centroids) — the oracle gate
only exercises the fixture corpus, so an edge-case divergence (e.g. a
boundary slip in the lane slicing or vote parity) would otherwise
surface only at deploy.
"""

import hashlib
import random

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pdf_extractor_spark.corpus import (MINHASH_SIG_S, SHINGLES_FROM_TEXT_S,
                                        simhash_bands_udf)

# words are split on a single space and empties dropped; include unicode,
# punctuation and runs of spaces to stress the boundary conditions
word_st = st.text(
    alphabet=st.characters(blacklist_characters=" ", blacklist_categories=("Cs",)),
    min_size=1, max_size=8)
text_st = st.lists(
    st.one_of(word_st, st.just("")), max_size=12).map(" ".join)


def _words(t):
    return [w for w in t.split(" ") if w]


def _shingles(ws):
    return [" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _py_minhash_sig(text):
    ws = _words(text)
    sh = _shingles(ws)
    if not sh:
        return None
    hs = [_md5(s) + _md5("#" + s) for s in sh]
    lanes = [min(h[8 * j:8 * j + 8] for h in hs) for j in range(8)]
    return {
        "n_shingles": len(sh),
        "mh0": lanes[0], "mh1": lanes[1],
        "band0": lanes[0] + lanes[1], "band1": lanes[2] + lanes[3],
        "band2": lanes[4] + lanes[5], "band3": lanes[6] + lanes[7],
    }


def _py_simhash_nib(text, nbits=60):
    ws = _words(text)
    if not ws:
        return None
    votes = [0] * nbits
    for w in ws:
        h = _md5(w)
        for j in range(nbits):
            nib = int(h[j // 4], 16)
            votes[j] += 1 if (nib >> (j % 4)) & 1 else -1
    return sum(1 << j for j in range(nbits) if votes[j] > 0)


def _run_texts(spark, texts, cols):
    schema = StructType([StructField("text", StringType())])
    df = spark.createDataFrame([(t,) for t in texts], schema)
    return df.select(*cols).collect()


@pytest.fixture(scope="module")
def fuzz_texts():
    """A deterministic adversarial pool, plus hypothesis adds random ones."""
    return [
        "", " ", "   ", "a", "a b", "a b c", "a  b   c", "a a a a",
        "x y z x y z x y z", "\tword \t tab", "ünïcode wörds hére too",
        "same same same", ". . . .", "a b c d e f g h i j k",
    ]


def test_minhash_sig_matches_python_replica(spark, fuzz_texts):
    texts = fuzz_texts + [" ".join(["w%d" % (i % 5) for i in range(n)])
                          for n in range(1, 20)]
    rows = _run_texts(
        spark, texts,
        [F.col("text"), F.expr(MINHASH_SIG_S).alias("sig"),
         F.expr(SHINGLES_FROM_TEXT_S).alias("sh")])
    for r in rows:
        want = _py_minhash_sig(r.text)
        assert list(r.sh) == _shingles(_words(r.text)), repr(r.text)
        if want is None:
            assert r.sig.n_shingles == 0, repr(r.text)
            continue
        got = r.sig.asDict()
        assert got == want, (repr(r.text), got, want)


def test_simhash60_matches_python_replica(spark, fuzz_texts):
    """The 15-bit band kernel, reassembled, is the 60-bit signature."""
    texts = [t for t in fuzz_texts if _words(t)]
    rows = _run_texts(
        spark, texts,
        [F.col("text"), simhash_bands_udf(15)(F.col("text")).alias("bands")])
    for r in rows:
        sig = sum(b << (15 * k) for k, b in enumerate(r.bands))
        assert sig == _py_simhash_nib(r.text), repr(r.text)


@settings(max_examples=30, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=8))
def test_minhash_sig_fuzz(spark_session_holder, texts):
    spark = spark_session_holder
    rows = _run_texts(spark, texts,
                      [F.col("text"), F.expr(MINHASH_SIG_S).alias("sig")])
    for r in rows:
        want = _py_minhash_sig(r.text)
        if want is None:
            assert r.sig.n_shingles == 0, repr(r.text)
        else:
            assert r.sig.asDict() == want, repr(r.text)


@pytest.fixture(scope="module")
def spark_session_holder(spark):
    # hypothesis forbids function-scoped fixtures; re-expose module-scoped
    return spark


# ---- Arrow-batch production signature (_simhash_bands_batch) parity ----

def _py_simhash_bands(text, bits):
    """Independent replica of the band rule (`_simhash_bands_batch`): bit
    j of the 4*bits signature votes on bit j%4 of hex digit j//4 of the
    (possibly doubled) word digest; band k packs bits [k*bits,
    (k+1)*bits)."""
    ws = _words(text)
    if not ws:
        return None
    nbits = 4 * bits
    votes = [0] * nbits
    for w in ws:
        h = _md5(w) if bits <= 32 else _md5(w) + _md5("#" + w)
        for j in range(nbits):
            nib = int(h[j // 4], 16)
            votes[j] += 1 if (nib >> (j % 4)) & 1 else -1
    return [sum(1 << (j - k * bits)
                for j in range(k * bits, (k + 1) * bits) if votes[j] > 0)
            for k in range(4)]


@pytest.mark.parametrize("bits", [15, 21, 40])
def test_simhash_bands_batch_matches_replica(fuzz_texts, bits):
    from pdf_extractor_spark.corpus import _simhash_bands_batch
    texts = fuzz_texts + [" ".join("w%d" % (i % 7) for i in range(n))
                          for n in range(1, 24)]
    got = _simhash_bands_batch(texts, bits)
    for t, g in zip(texts, got):
        want = _py_simhash_bands(t, bits)
        if want is None:
            assert g is None, repr(t)
        else:
            assert list(g) == want, (repr(t), list(g), want)


@pytest.mark.parametrize("bits", [15, 21, 40])
def test_simhash_bands_udf_matches_sql_expr(spark, fuzz_texts, bits):
    """The Arrow UDF in Spark vs the DuckDB oracle form (band k =
    `_simhash_nib_expr_d(bits, k*bits)`) and the pure-python replica,
    including unicode (exercises UTF-8 digest parity end to end) and the
    doubled digest beyond 32 bits."""
    from pdf_extractor_spark.corpus import WORDS_D, _simhash_nib_expr_d
    texts = [t for t in fuzz_texts if _words(t)]
    got = {r.text: list(r.bands) for r in _run_texts(
        spark, texts,
        [F.col("text"), simhash_bands_udf(bits)(F.col("text")).alias("bands")])}
    digest = "md5(w)" if bits <= 32 else "md5(w) || md5('#' || w)"
    bands = ", ".join(_simhash_nib_expr_d(bits, k * bits) for k in range(4))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    want = {t: list(b) for t, b in con.execute(
        f"SELECT text, [{bands}] FROM (SELECT text, "
        f"list_transform({WORDS_D}, w -> {digest}) AS hs FROM t)").fetchall()}
    assert len(want) == len(set(texts))
    assert got == want
    for t in texts:
        assert got[t] == _py_simhash_bands(t, bits), repr(t)


@settings(max_examples=25, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=6))
def test_simhash_bands_batch_fuzz(texts):
    from pdf_extractor_spark.corpus import _simhash_bands_batch
    got = _simhash_bands_batch(texts, 21)
    for t, g in zip(texts, got):
        want = _py_simhash_bands(t, 21)
        assert (g is None and want is None) or list(g) == want, repr(t)


# ---- Arrow-batch embedding LSH bands / norm / dot parity ----

def _int_vectors(n: int, seed: int, lo: int, hi: int) -> list:
    rng = random.Random(seed)
    return [[rng.randint(lo, hi) for _ in range(64)] for _ in range(n)]


@pytest.mark.parametrize("ppb", [8, 12])
def test_emb_bands_nrm_udf_matches_sql_expr(spark, ppb):
    """Arrow banding + norm vs the DuckDB oracle forms (`_bands_array_d`,
    `NORM_D`) on quantized vectors spanning negatives, zeros, and the
    planted-dup case.  The plane dots are integer-valued < 2^53, so any
    summation order is exact — the two engines must agree bit for bit."""
    from pdf_extractor_spark.corpus import (NORM_D, _bands_array_d,
                                            emb_bands_nrm_udf)
    vecs = _int_vectors(62, ppb, -498, 498) + [[0] * 64] * 2
    data = list(enumerate(vecs))
    bn = emb_bands_nrm_udf(ppb)(F.col("qv"))
    got = {r.vec_id: (list(r.bands), r.nrm) for r in (
        spark.createDataFrame(data, "vec_id long, qv array<bigint>")
        .select("vec_id", bn.getField("bands").alias("bands"),
                bn.getField("nrm").alias("nrm")).collect())}
    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id BIGINT, qv BIGINT[])")
    con.executemany("INSERT INTO e VALUES (?, ?)", data)
    want = {i: (list(b), n) for i, b, n in con.execute(
        f"SELECT vec_id, {_bands_array_d('qv', ppb)}, "
        f"(SELECT {NORM_D} FROM (SELECT qv AS q) x) FROM e").fetchall()}
    assert len(want) == len(data)
    assert got == want


def test_emb_dot_udf_matches_sql_expr(spark):
    """The Arrow dot against the DuckDB `DOT_D` over the same vectors."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import DOT_D, EMB_DIM, emb_dot_udf
    df = (spark.range(80).select(
        F.col("id"),
        F.expr(f"transform(sequence(0, {EMB_DIM - 1}), i -> "
               "CAST(pmod(xxhash64(id, i), 997) - 498 AS BIGINT))")
        .alias("qa"),
        F.expr(f"transform(sequence(0, {EMB_DIM - 1}), i -> "
               "CAST(pmod(xxhash64(id + 7, i), 991) - 495 AS BIGINT))")
        .alias("qb")))
    rows = (df.select("id", "qa", "qb",
                      emb_dot_udf()(F.col("qa"), F.col("qb")).alias("dot"))
            .collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE v (id BIGINT, qa BIGINT[], qb BIGINT[])")
    con.executemany("INSERT INTO v VALUES (?, ?, ?)",
                    [(r.id, r.qa, r.qb) for r in rows])
    want = dict(con.execute(f"SELECT id, {DOT_D} FROM v").fetchall())
    assert len(want) == 80
    assert {r.id: r.dot for r in rows} == want


def test_kmeans_assign_udf_matches_oracle_on_integer_centroids(spark):
    """Arrow argmax vs the DuckDB assignment (`_kmeans_sql_assign`)
    against INTEGER centroids — the exact regime of every Lloyd round
    (floored-mean centroids; all products < 2^53, any summation order
    exact; see kmeans_assign_udf).  Includes a 2x-scaled copy of a
    centroid (exactly tied cosine with cell 0 for every row) to exercise
    the lowest-cell tie-break both ways."""
    from pdf_extractor_spark.corpus import (_cents_rows, _kmeans_sql_assign,
                                            kmeans_assign_udf)
    data = list(enumerate(_int_vectors(400, 1, -20, 20)))
    base = _int_vectors(7, 2, -20, 20)
    cents = [(c, [float(x) for x in cv])
             for c, cv in enumerate(base + [[2 * x for x in base[0]]])]
    rows = _cents_rows(
        spark.createDataFrame(cents, "cell long, cv array<double>"))
    got = {r.vec_id: r.cell for r in (
        spark.createDataFrame(data, "vec_id long, qv array<bigint>")
        .select("vec_id", kmeans_assign_udf(rows)(F.col("qv")).alias("cell"))
        .collect())}
    con = duckdb.connect()
    con.execute("CREATE TABLE data (vec_id BIGINT, qv BIGINT[])")
    con.executemany("INSERT INTO data VALUES (?, ?)", data)
    con.execute("CREATE TABLE cent0 (cell BIGINT, cv DOUBLE[])")
    con.executemany("INSERT INTO cent0 VALUES (?, ?)", cents)
    want = dict(con.execute(
        f"WITH {_kmeans_sql_assign(0)} SELECT vec_id, cell FROM assign0")
        .fetchall())
    assert len(want) == len(data)
    assert got == want
    assert 0 in got.values() and 7 not in got.values()  # ties go to cell 0


def test_lloyd_arrow_centroids_match_oracle(spark):
    """One Arrow Lloyd round vs the DuckDB `_kmeans_sql_iter`: both define
    the centroid as the floored mean of the quantized vectors, so the
    learned centroids — and the final assignment — agree exactly."""
    from pdf_extractor_spark.corpus import (_kmeans_sql_assign,
                                            _kmeans_sql_iter, _lloyd_arrow)
    data = list(enumerate(_int_vectors(400, 3, -500, 500)))
    seeds = [(c, [float(x) for x in qv]) for c, qv in data[:8]]
    df = spark.createDataFrame(data, "vec_id long, qv array<bigint>")
    cents, assign = _lloyd_arrow(
        spark, df, spark.createDataFrame(seeds, "cell long, cv array<double>"),
        rounds=1)
    got = {r.cell: list(r.cv) for r in cents.collect()}
    got_assign = {r.vec_id: r.cell for r in assign.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE data (vec_id BIGINT, qv BIGINT[])")
    con.executemany("INSERT INTO data VALUES (?, ?)", data)
    con.execute("CREATE TABLE cent0 (cell BIGINT, cv DOUBLE[])")
    con.executemany("INSERT INTO cent0 VALUES (?, ?)", seeds)
    sql = f"WITH {_kmeans_sql_iter(0)}, {_kmeans_sql_assign(1)} "
    want = dict(con.execute(sql + "SELECT cell, cv FROM cent1").fetchall())
    want_assign = dict(con.execute(
        sql + "SELECT vec_id, cell FROM assign1").fetchall())
    assert all(x == int(x) for cv in got.values() for x in cv)
    assert got == want
    assert got_assign == want_assign
