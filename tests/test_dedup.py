"""Dedup-family unit tests: short-doc safety, shingle parity with the
DuckDB oracle, and the hot-band candidate cap (the scale guard that
bounds boilerplate-heavy (band, key) groups)."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal2mbtiles_spark.operators import dedup as D
from gdal2mbtiles_spark.functions import text as T

SHORT_TEXTS = [
    (0, ""),                    # 1 empty token after split
    (1, "one"),
    (2, "one two"),
    (3, "one two three"),       # exactly 3 tokens -> 1 shingle
    (4, "one two three four"),  # 4 tokens -> 2 shingles
    (5, "alpha beta gamma delta epsilon zeta"),
]


def _docs(spark, rows=SHORT_TEXTS):
    return spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")


def _duck(rows=SHORT_TEXTS):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, '{t}', 'en', 's0', {len(t)})"
                            for i, t in rows)
                + ") t(doc_id, text, lang, source, n_chars)")
    return con


def test_shingle_counts_standard_n_minus_2(spark):
    rows = D.with_tokens(_docs(spark)).select(
        "doc_id", F.expr(f"size({D.SHINGLES_SPARK})").alias("n")).collect()
    out = {r["doc_id"]: r["n"] for r in rows}
    # "" splits to [''] (1 token); n tokens -> max(n-2, 0) shingles
    assert out == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2, 5: 4}


def test_shingles_match_duckdb(spark):
    sdf = (D.with_tokens(_docs(spark))
           .select("doc_id", F.expr(D.SHINGLES_SPARK).alias("sh"))
           .orderBy("doc_id").collect())
    duck = _duck().execute(
        f"SELECT doc_id, {D.SHINGLES_DUCK} AS sh FROM documents "
        "ORDER BY doc_id").fetchall()
    assert [(r["doc_id"], list(r["sh"])) for r in sdf] \
        == [(i, list(sh)) for i, sh in duck]


def test_short_docs_do_not_crash_shingle_operators(spark):
    docs = _docs(spark)
    # every shingle consumer must survive <=3-token docs
    assert D.minhash_lsh_pairs(docs).count() >= 0
    assert D.ngram_jaccard_pairs(docs).count() >= 0
    fps = T.fingerprints(docs).orderBy("doc_id").collect()
    assert len(fps) == len(SHORT_TEXTS)
    # doc 3 has 1 shingle -> fp0 set, fp1..3 NULL; doc 0 all NULL
    assert fps[0]["fp0"] is None
    assert fps[3]["fp0"] is not None and fps[3]["fp1"] is None


def test_hot_band_candidate_cap_bounds_pairs(spark):
    # 200 identical docs: uncapped LSH would emit C(200,2)=19900 pairs;
    # with cap=8 each band keeps the first 8 doc_ids -> C(8,2)=28
    # distinct pairs (same member set in every band)
    rows = [(i, "the same boilerplate text repeated everywhere")
            for i in range(200)]
    docs = _docs(spark, rows)
    pairs = D.minhash_lsh_pairs(docs, band_cap=8).collect()
    assert len(pairs) == 28
    assert all(r["est_sim"] == 1.0 for r in pairs)
    assert all(r["doc_a"] < 8 and r["doc_b"] < 8 for r in pairs)

    sims = D.simhash_pairs(docs, chunk_cap=8).collect()
    assert len(sims) == 28
    assert all(r["hamming"] == 0 for r in sims)


def test_minhash_cap_matches_duckdb_oracle(spark):
    # mixed corpus with a hot key, binding cap on BOTH engines
    rows = ([(i, "spam spam spam spam ham") for i in range(20)]
            + [(100 + i, f"unique document number {i} about topic {i}")
               for i in range(10)])
    docs = _docs(spark, rows)
    sdf = (D.minhash_lsh_pairs(docs, band_cap=4)
           .orderBy("doc_a", "doc_b").toPandas())
    duck = _duck(rows).execute(
        D.minhash_lsh_pairs_sql(band_cap=4)
        + " ORDER BY doc_a, doc_b").df()
    pd.testing.assert_frame_equal(sdf, duck, check_dtype=False)


def test_simhash_cap_matches_duckdb_oracle(spark):
    rows = ([(i, "spam spam spam spam ham") for i in range(12)]
            + [(100 + i, f"unique document number {i} about topic {i}")
               for i in range(8)])
    docs = _docs(spark, rows)
    sdf = (D.simhash_pairs(docs, chunk_cap=4)
           .orderBy("doc_a", "doc_b").toPandas())
    duck = _duck(rows).execute(
        D.simhash_pairs_sql(chunk_cap=4)
        + " ORDER BY doc_a, doc_b").df()
    pd.testing.assert_frame_equal(sdf, duck, check_dtype=False)


def test_lsh_jaccard_verify_matches_duckdb(spark):
    rows = ([(i, "the quick brown fox jumps over the lazy dog")
             for i in range(6)]
            + [(10 + i, "the quick brown fox jumps over the sleepy cat "
                + "extra " * i) for i in range(4)]
            + [(50 + i, f"totally unrelated text number {i} here now")
               for i in range(5)])
    docs = _docs(spark, rows)
    sdf = (D.lsh_jaccard_verify(docs, min_est_sim=0.2)
           .orderBy("doc_a", "doc_b").toPandas())
    duck = _duck(rows).execute(
        D.lsh_jaccard_verify_sql(min_est_sim=0.2)
        + " ORDER BY doc_a, doc_b").df()
    pd.testing.assert_frame_equal(sdf, duck, check_dtype=False)
    # identical docs verify at jaccard exactly 1.0
    ident = sdf[(sdf.doc_a < 6) & (sdf.doc_b < 6)]
    assert len(ident) == 15 and (ident.jaccard == 1.0).all()


def test_no_persisted_rdds_leak(spark):
    """minhash_lsh_pairs must not leave cached RDDs behind
    (VERDICT round 1: sigs.persist() was never unpersisted)."""
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    D.minhash_lsh_pairs(_docs(spark)).count()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after == before


def test_short_docs_never_band_and_oracle_agrees_at_zero(spark):
    """Docs with <3 tokens have all-NULL signatures; they must be
    dropped before banding (no md5('') mega-hot band key) and Spark
    must agree with the DuckDB oracle even at min_est_sim=0, where
    the NULL-key pairs used to appear on one engine only."""
    docs = _docs(spark)
    got = (D.minhash_lsh_pairs(docs, min_est_sim=0.0)
           .orderBy("doc_a", "doc_b").toPandas())
    want = (_duck().execute(
        D.minhash_lsh_pairs_sql("documents", min_est_sim=0.0))
        .df().sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # no pair may involve a shingle-less doc (ids 0..2)
    assert not ((got["doc_a"] < 3) | (got["doc_b"] < 3)).any()


def test_simhash_hash_once_values_unchanged(spark):
    """The hash-once rewrite must be value-identical to the per-bit
    definition (the encode gate hashes depend on it)."""
    docs = _docs(spark)
    got = {r["doc_id"]: r["simhash"]
           for r in D.simhash(docs).collect()}
    want = {r[0]: r[1] for r in _duck().execute(
        D.simhash_sql("documents")).fetchall()}
    assert got == want and len(got) == len(SHORT_TEXTS)
