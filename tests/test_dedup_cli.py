"""Production derived-geometry dedup entry point (``cli.py
--dedup-embeddings``, VERDICT r3 item 4): the parquet-footer row estimate
drives ``emb_lsh_geometry`` end to end, and the dup decisions match a
brute-force all-pairs cosine oracle on a small slice."""

import json

import duckdb
import pyspark.sql.functions as F
import pytest

from pdf_extractor_spark.corpus import (
    COS, DOT_D, NORM_D, PPB_DEDUP, QUANT_D, emb_lsh_geometry,
    estimate_parquet_rows, simhash_bands_udf)

SF_DIR = "/root/testdata/sf0.001"

# one row of each kind the Arrow kernels cannot take: a null embedding,
# a short one, and one holding a null element
BAD_IDS = (900001, 900002, 900003)


def _with_bad_rows(spark, e):
    bad = spark.createDataFrame(
        [(BAD_IDS[0], None), (BAD_IDS[1], [0.1] * 63),
         (BAD_IDS[2], [0.1] * 63 + [None])],
        "vec_id long, embedding array<double>")
    return e.unionByName(bad)


def _bruteforce_pairs(inp: str, keep: str) -> set:
    """All-pairs exact quantized cosine over the clean rows (not BAD_IDS)
    of the parquet at ``inp``, in DuckDB: (vec_a < vec_b) pairs whose
    `cos_sim` passes the ``keep`` predicate."""
    rows = duckdb.connect().execute(f"""
        WITH q AS (
          SELECT vec_id, {QUANT_D} AS qv FROM read_parquet('{inp}/*.parquet')
          WHERE vec_id NOT IN {BAD_IDS}),
        n AS (SELECT vec_id, qv, (SELECT {NORM_D} FROM (SELECT qv AS q) x) AS nrm
              FROM q),
        p AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.qv AS qa,
                 b.qv AS qb, a.nrm AS na, b.nrm AS nb
          FROM n a JOIN n b ON a.vec_id < b.vec_id),
        d AS (SELECT vec_a, vec_b, na, nb, {DOT_D} AS dot FROM p)
        SELECT vec_a, vec_b FROM (SELECT vec_a, vec_b, {COS} AS cos_sim FROM d)
        WHERE {keep}""").fetchall()
    return set(rows)


def test_geometry_derived_from_million_row_footer(spark, tmp_path):
    """A 10^6-row input must push the derived geometry past the sf
    default: footer count -> ppb 14 (16384 buckets/band), without reading
    any column data (constant arrays keep the file tiny; the count is a
    metadata scan)."""
    p = str(tmp_path / "emb1m")
    (spark.range(10**6).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 64), i -> CAST(0.01 * i AS FLOAT))")
        .alias("embedding"))
     .write.parquet(p))
    n = estimate_parquet_rows(spark, p)
    assert n == 10**6
    ppb = emb_lsh_geometry(n)
    assert ppb == 14
    assert ppb > PPB_DEDUP


def _engineered_input(spark, path: str) -> None:
    """sf0.001 embeddings ∪ perturbed copies (first 8 of 64 dims x 0.9,
    the registry fixture construction whose >=0.98 pairs the recall
    property test already proves the banding recalls losslessly) ∪ one
    bad row of each kind (BAD_IDS)."""
    e = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
         .select("vec_id",
                 F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                 .alias("embedding")))
    dup = (e.filter(F.col("vec_id") % 4 == 0)
           .select((F.col("vec_id") + 100000).alias("vec_id"),
                   F.expr(
                       "transform(embedding, (x, i) -> CASE WHEN i < 8 "
                       "THEN (floor(x * 10000 * 0.9) + 0.5) / 10000.0 "
                       "ELSE x END)").alias("embedding")))
    _with_bad_rows(spark, e.unionByName(dup)).write.mode(
        "overwrite").parquet(path)


def _fixpoint_labels(pairs: set) -> dict:
    nodes = {v for p in pairs for v in p}
    label = {v: v for v in nodes}
    nbrs = {v: set() for v in nodes}
    for a, b in pairs:
        nbrs[a].add(b)
        nbrs[b].add(a)
    hops = 0
    changed = True
    while changed:
        changed = False
        new = dict(label)
        for v in nodes:
            m = min([label[v]] + [label[u] for u in nbrs[v]])
            if m < new[v]:
                new[v] = m
                changed = True
        label = new
        hops += changed
    return label, hops


def test_cli_decisions_match_bruteforce(spark, tmp_path, capsys):
    inp = str(tmp_path / "emb_in")
    out = str(tmp_path / "dedup_out")
    _engineered_input(spark, inp)

    from pdf_extractor_spark.cli import main
    rc = main(["--dedup-embeddings", inp, "--output", out])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["mode"] == "dedup_embeddings"
    assert metrics["ppb"] == PPB_DEDUP          # small n -> sf geometry
    assert metrics["dropped_hot_buckets"] == 0  # cap inert on the slice
    assert metrics["rejected_rows"] == len(BAD_IDS)

    # brute-force oracle: all-pairs exact quantized cosine over the clean
    # rows of the SAME input file and quantization, in DuckDB
    want_pairs = _bruteforce_pairs(inp, "cos_sim * 100 >= 98")
    got_pairs = {(r.vec_a, r.vec_b)
                 for r in spark.read.parquet(f"{out}/pairs").collect()}
    assert want_pairs, "fixture must contain engineered near-dup pairs"
    assert got_pairs == want_pairs
    assert metrics["pairs"] == len(want_pairs)

    # decisions: non-canonical set == fixpoint min-label over brute pairs
    # (guard: the fixture's components must converge within the CLI's 3
    # propagation hops, else raise iterations in both places)
    label, hops = _fixpoint_labels(want_pairs)
    assert hops <= 3, f"fixture diameter {hops} exceeds CLI iterations"
    want_noncanon = {v for v, l in label.items() if l != v}
    dec = spark.read.parquet(f"{out}/decisions").collect()
    got_noncanon = {r.vec_id for r in dec if not r.is_canonical}
    assert got_noncanon == want_noncanon
    assert metrics["non_canonical"] == len(want_noncanon)


class TestDedupTexts:
    """Production simhash path (cli --dedup-texts): the simhash_band_bits
    seam end to end, banded signature equivalence, and decisions vs a
    brute-force hamming oracle."""

    def test_band_array_matches_registry_signature_at_15_bits(self, spark):
        """At bits=15 the Arrow 4-band array must equal the band split of
        the DuckDB oracle's 60-bit registry signature bit for bit (same
        vote rule)."""
        from pdf_extractor_spark.corpus import (
            NEARDUP_CORPUS_D, WORDS_D, WORDS_S, _neardup_corpus_s,
            _simhash_nib_expr_d)
        corpus = (_neardup_corpus_s(spark, SF_DIR)
                  .filter(F.expr(f"size({WORDS_S}) >= 1")))
        got = {r.doc_id: list(r.bands) for r in corpus.select(
            "doc_id", simhash_bands_udf(15)(F.col("text")).alias("bands"))
            .collect()}
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS "
                    f"SELECT * FROM '{SF_DIR}/documents.parquet'")
        sigs = con.execute(f"""
            WITH {NEARDUP_CORPUS_D}
            SELECT doc_id, {_simhash_nib_expr_d(60)} AS sig60
            FROM (SELECT doc_id, list_transform({WORDS_D}, w -> md5(w)) AS hs
                  FROM corpus)
            WHERE len(hs) >= 1""").fetchall()
        want = {d: [(s >> (15 * k)) & 0x7FFF for k in range(4)]
                for d, s in sigs}
        assert want
        assert got == want

    def test_cli_rejects_hamming_max_beyond_pigeonhole(self, tmp_path):
        """--hamming-max above bands-1 is a usage error (exit 2), raised
        by argparse before any Spark work."""
        from pdf_extractor_spark.cli import main
        with pytest.raises(SystemExit) as exc:
            main(["--dedup-texts", str(tmp_path / "in"),
                  "--output", str(tmp_path / "out"), "--hamming-max", "4"])
        assert exc.value.code == 2
        assert not (tmp_path / "out").exists()

    def test_band_width_derives_from_footer(self, spark, tmp_path):
        """10^6-row footer -> 20-bit bands (> the 15-bit sf default)."""
        from pdf_extractor_spark.corpus import (estimate_parquet_rows,
                                                simhash_band_bits)
        p = str(tmp_path / "txt1m")
        (spark.range(10**6)
         .select(F.col("id").alias("doc_id"), F.lit("x y z").alias("text"))
         .write.parquet(p))
        assert simhash_band_bits(estimate_parquet_rows(spark, p)) == 20

    def test_wide_bands_double_digest_recall(self, spark, tmp_path, capsys):
        """bits > 32 switches to the doubled word digest (signature wider
        than one md5); planted exact dups must still collide in every
        band and verify at hamming 0."""
        sigs = (spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
             (3, "wholly different words here")],
            "doc_id long, text string")
            .select("doc_id", simhash_bands_udf(40)(F.col("text"))
                    .alias("bands"))
            .collect())
        by_id = {r.doc_id: list(r.bands) for r in sigs}
        assert by_id[1] == by_id[2]
        assert by_id[1] != by_id[3]
        assert all(0 <= b < (1 << 40) for b in by_id[1])

    def test_cli_decisions_match_bruteforce(self, spark, tmp_path, capsys):
        from pdf_extractor_spark.corpus import (WORDS_S, _neardup_corpus_s,
                                                simhash_band_bits)
        inp = str(tmp_path / "txt_in")
        out = str(tmp_path / "txt_out")
        _neardup_corpus_s(spark, SF_DIR).write.parquet(inp)

        from pdf_extractor_spark.cli import main
        rc = main(["--dedup-texts", inp, "--output", out])
        assert rc == 0
        metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert metrics["mode"] == "dedup_texts"
        assert metrics["band_bits"] == simhash_band_bits(metrics["n_est"])
        assert metrics["dropped_hot_bands"] == 0

        # brute-force oracle: all-pairs hamming over the SAME signature
        sigs = (spark.read.parquet(inp)
                .filter(F.expr(f"size({WORDS_S}) >= 1"))
                .select("doc_id", simhash_bands_udf(metrics["band_bits"])(
                    F.col("text")).alias("bands")))
        a = sigs.select(F.col("doc_id").alias("doc_a"),
                        F.col("bands").alias("bands_a"))
        b = sigs.select(F.col("doc_id").alias("doc_b"),
                        F.col("bands").alias("bands_b"))
        ham = F.expr("aggregate(zip_with(bands_a, bands_b, "
                     "(x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v)")
        brute = (a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
                 .withColumn("hamming", ham.cast("int"))
                 .filter(F.col("hamming") <= 3))
        want = {(r.doc_a, r.doc_b) for r in brute.collect()}
        got = {(r.doc_a, r.doc_b)
               for r in spark.read.parquet(f"{out}/pairs").collect()}
        assert want, "fixture must contain engineered near-dup pairs"
        assert got == want
        label, hops = _fixpoint_labels(want)
        assert hops <= 3, f"fixture diameter {hops} exceeds CLI iterations"
        want_noncanon = {v for v, l in label.items() if l != v}
        dec = spark.read.parquet(f"{out}/decisions").collect()
        assert {r.doc_id for r in dec if not r.is_canonical} == want_noncanon
        assert metrics["non_canonical"] == len(want_noncanon)


class TestDedupSemantic:
    """Production SemDeDup path (cli --dedup-semantic, VERDICT r4 item 2):
    the kmeans_k derivation seam end to end, decisions pinned to a
    brute-force exact-cosine oracle, convergence surfaced."""

    def test_k_derives_from_corpus_size(self):
        from pdf_extractor_spark.corpus import (K_IVF, KMEANS_K_MAX,
                                                kmeans_k)
        assert kmeans_k(10**6) == 977          # ceil(1e6/1024)
        assert kmeans_k(10**6) > K_IVF         # past the sf default
        assert kmeans_k(1000) == K_IVF         # fixture floor
        assert kmeans_k(5) == 5                # never more cells than rows
        assert kmeans_k(10**9) == KMEANS_K_MAX  # broadcast ceiling
        assert kmeans_k(0) == K_IVF

    def test_k_derives_from_million_row_footer(self, spark, tmp_path):
        from pdf_extractor_spark.corpus import (estimate_parquet_rows,
                                                kmeans_k)
        p = str(tmp_path / "emb1m")
        (spark.range(10**6).select(
            F.col("id").alias("vec_id"),
            F.expr("transform(sequence(1, 64), i -> CAST(0.01 AS FLOAT))")
            .alias("embedding"))
         .write.parquet(p))
        assert kmeans_k(estimate_parquet_rows(spark, p)) == 977

    def test_cli_decisions_match_bruteforce(self, spark, tmp_path, capsys):
        """Engineered input: sf0.001 embeddings ∪ EXACT copies of
        vec_id%4==0 (identical qv ⇒ identical centroid cosines ⇒ the
        deterministic tie-break assigns both to the same cell, so every
        dup pair is guaranteed intra-cell) ∪ one bad row of each kind
        (BAD_IDS), which must be counted as rejected.  Produced pairs must
        be a subset of the brute-force >=0.98 oracle over the clean rows
        (verify is exact) and a superset of the planted exact dups;
        decisions must equal the fixpoint min-label over the produced
        pairs."""
        from pdf_extractor_spark.corpus import kmeans_k
        inp = str(tmp_path / "sem_in")
        out = str(tmp_path / "sem_out")
        e = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
             .select("vec_id", "embedding"))
        dup = (e.filter(F.col("vec_id") % 4 == 0)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       "embedding"))
        _with_bad_rows(spark, e.unionByName(dup)).write.parquet(inp)

        from pdf_extractor_spark.cli import main
        # --target-cell-size 64 pushes the derived K past the sf floor
        # at fixture scale (the 10^6-footer test covers the big-n leg)
        rc = main(["--dedup-semantic", inp, "--output", out,
                   "--target-cell-size", "64"])
        assert rc == 0
        metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert metrics["mode"] == "dedup_semantic"
        assert metrics["k"] == kmeans_k(metrics["n_est"], 64)
        assert metrics["k"] > 8                  # derived, not pinned
        assert metrics["dropped_hot_cells"] == 0
        assert metrics["cc_converged"] is True
        assert metrics["rejected_rows"] == len(BAD_IDS)

        want_all = _bruteforce_pairs(inp, "cos_sim >= 0.98")
        planted = {(r.vec_id, r.vec_id + 100000)
                   for r in e.filter(F.col("vec_id") % 4 == 0).collect()}
        got = {(r.vec_a, r.vec_b)
               for r in spark.read.parquet(f"{out}/pairs").collect()}
        assert planted, "fixture must plant exact duplicates"
        assert planted <= got          # same-cell guarantee for exact dups
        assert got <= want_all         # exact verify: no false positives
        assert metrics["pairs"] == len(got)

        label, _hops = _fixpoint_labels(got)
        want_noncanon = {v for v, l in label.items() if l != v}
        dec = spark.read.parquet(f"{out}/decisions").collect()
        assert {r.vec_id for r in dec if not r.is_canonical} == want_noncanon
        assert metrics["non_canonical"] == len(want_noncanon)
