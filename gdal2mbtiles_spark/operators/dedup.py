"""Document deduplication family: exact, MinHash-LSH, SimHash,
n-gram Jaccard (the training-data-pipeline ops the engine adds on top
of the reference's tile dedup — same groupBy-on-content-hash shape as
A1, generalized to text).

Every operator is a pure JVM-side expression pipeline (split /
higher-order array functions / md5 — whole-stage codegen, no Python),
and each has a ``*_sql`` twin emitting the identical computation as
ANSI SQL over the ``documents`` view for the DuckDB oracle.  Hash
basis: h60(s) = first 15 hex chars of md5 (60 bits, fits signed 64)
— the same md5-truncation trick as the tile ids (mbtiles.py:512-514
lineage).

Scale notes (10^12 docs): MinHash signatures are computed in one
narrow pass; LSH banding turns the quadratic pair search into a
single hash-partitioned grouping on (band, key) whose fan-out is
controlled by band width.  Hot bands (boilerplate text) are bounded
by a per-(band, key) *candidate cap*: a row_number window (same
partitioning as the group-by, so no extra exchange) keeps only the
first ``cap`` doc_ids per band key, making the worst-case pair
fan-out cap^2/2 per key instead of quadratic in the key's frequency.
Pairs are generated as in-task array combinations from the grouped
members — no self-join, so signatures are shuffled exactly once and
the pair-dedup exchange carries only (doc_a, doc_b, score) rows.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

NUM_HASHES = 16
BANDS = 8  # 2 rows per band
ROWS_PER_BAND = NUM_HASHES // BANDS
# Per-(band, key) candidate cap: a key shared by more than CAP docs is
# boilerplate; pairing the first CAP (by doc_id — deterministic) bounds
# the per-key pair fan-out at CAP*(CAP-1)/2 while near-dup recall
# survives via the other bands.  Mirrored verbatim in the SQL oracle.
BAND_CANDIDATE_CAP = 512

# --- shared expression builders (Spark SQL text / DuckDB text) ---------------


def _h60_spark(s: str, salt: str) -> str:
    return (f"cast(conv(substring(md5(concat({s}, '#{salt}')), 1, 15), "
            f"16, 10) as bigint)")


def _h60_duck(s: str, salt: str) -> str:
    return f"(('0x' || substr(md5({s} || '#{salt}'), 1, 15))::BIGINT)"


TOKS_SPARK = "split(lower(text), ' ')"
TOKS_DUCK = "string_split(lower(text), ' ')"

# 3-gram token shingles (w-shingling): standard n-2 shingles for an
# n-token doc; docs with fewer than 3 tokens yield an EMPTY array on
# both engines (Spark's sequence(0, -1) would produce a descending
# range whose element_at(t, 0) throws, so the short case is guarded
# explicitly; DuckDB's range(0, n<=0) is already []).  The Spark form
# reads the ``_toks`` column of with_tokens: Catalyst does not share
# work inside a lambda, so splitting the text inline re-split the whole
# document for every shingle.
SHINGLES_SPARK = (
    "(case when size({t}) >= 3 then "
    "transform(sequence(0, size({t}) - 3), "
    "i -> concat_ws(' ', element_at({t}, i + 1), "
    "element_at({t}, i + 2), element_at({t}, i + 3))) "
    "else cast(array() as array<string>) end)"
).format(t="_toks")
SHINGLES_DUCK = (
    "list_transform(range(0, greatest(len({t}) - 2, 0)), "
    "i -> {t}[i + 1] || ' ' || {t}[i + 2] || ' ' || {t}[i + 3])"
).format(t=TOKS_DUCK)


def with_tokens(docs: DataFrame) -> DataFrame:
    """docs plus ``_toks``, each document split once (TOKS_SPARK) — a
    projection Catalyst keeps, since SHINGLES_SPARK reads it 5 times."""
    return docs.withColumn("_toks", F.expr(TOKS_SPARK))


# --- exact dedup ---------------------------------------------------------------

def exact_dedup(docs: DataFrame) -> DataFrame:
    """groupBy md5(text): survivor = min doc_id, plus dupe count —
    the A1 dedup shape on documents."""
    return (docs
            .groupBy(F.md5(F.col("text")).alias("text_md5"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_dupes")))


def exact_dedup_sql(source: str = "documents") -> str:
    return (f"SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, "
            f"count(*) AS n_dupes FROM {source} GROUP BY md5(text)")


# --- MinHash ---------------------------------------------------------------------

def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>[NUM_HASHES]) over 3-gram shingles.

    The shingle array is materialized ONCE per row (a projection
    boundary Catalyst won't inline 16x), then each signature is an
    array_min over per-salt rehashes of it."""
    sh = with_tokens(docs).select(
        "doc_id", F.expr(SHINGLES_SPARK).alias("_shingles"))
    return sh.select(
        "doc_id", F.array(*[F.expr(
            f"array_min(transform(_shingles, s -> "
            f"{_h60_spark('s', str(j))}))")
            for j in range(NUM_HASHES)]).alias("sig"))


def _sig_sql_duck() -> str:
    parts = ", ".join(
        f"list_min(list_transform({SHINGLES_DUCK}, s -> "
        f"{_h60_duck('s', str(j))}))"
        for j in range(NUM_HASHES))
    return f"[{parts}]"


def _grouped_pairs(long_df: DataFrame, key_cols: Tuple[str, str],
                   payload: str, score_expr: str, score_name: str,
                   cap: int) -> DataFrame:
    """Shared banded-pair machinery for MinHash / SimHash.

    long_df: one row per (doc_id, payload, *key_cols).  Pipeline:
    row_number cap per key (bounds hot keys) -> groupBy key collecting
    (doc_id, payload) structs (reuses the window's hash partitioning —
    one exchange total) -> in-task i<j combination explode computing
    ``score_expr`` over ``ms[i]``/``ms[j]`` -> narrow (doc_a, doc_b,
    score) rows into the final dedup exchange."""
    k0, k1 = key_cols
    # Pin the pair-generation parallelism (round 6): the grouped
    # members EXPLODE into up to cap^2/2 pairs per key, so AQE's
    # byte-based coalescing of the tiny signature exchange serializes
    # the whole expansion onto ONE task (measured at bench scale: the
    # entire window+group+explode stage in a single 0.96 s task —
    # ~45% of simhash_pairs).  An explicit keyed repartition with a
    # pinned partition count (REPARTITION_BY_NUM — never coalesced by
    # AQE) spreads the keys; it hash-clusters on (k0, k1), so the
    # window and groupBy below reuse it — still one exchange total.
    # Same device as sparse.render_contents' repartition.  The count
    # follows cluster width (defaultParallelism — parameterised, never
    # a constant): an interleaved A/B at bench scale measured 1×cores
    # / 2×cores / 4×cores at 1.2-1.6 / 1.6-2.0 / 2.2-2.8 s — extra
    # waves are pure fixed overhead here because per-task state is
    # already bounded (<= cap rows per key for the window buffer, and
    # the engine's shuffle_partitions knob is itself cores-
    # proportional, session.py), while hot-key skew is bounded by the
    # candidate cap rather than by partition count.
    sc = long_df.sparkSession.sparkContext
    long_df = long_df.repartition(sc.defaultParallelism, k0, k1)
    w = W.partitionBy(k0, k1).orderBy("doc_id")
    capped = (long_df.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= cap))
    groups = (capped.groupBy(k0, k1)
              .agg(F.sort_array(F.collect_list(
                  F.struct("doc_id", payload))).alias("ms"))
              .where(F.size("ms") >= 2))
    pair_expr = (
        "flatten(transform(sequence(0, size(ms) - 2), i -> "
        "transform(sequence(i + 1, size(ms) - 1), j -> "
        "struct(ms[i].doc_id AS doc_a, ms[j].doc_id AS doc_b, "
        f"{score_expr} AS {score_name}))))")
    return (groups.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.*"))


def minhash_lsh_pairs(docs: DataFrame,
                      min_est_sim: float = 0.5,
                      band_cap: int = BAND_CANDIDATE_CAP) -> DataFrame:
    """LSH candidate pairs: band the signature (BANDS bands of
    ROWS_PER_BAND), group docs per (band, key) with the hot-band
    candidate cap, generate same-key pairs in-task, then estimate
    similarity as the matching-component fraction.  Output:
    (doc_a, doc_b, est_sim) with est_sim >= min_est_sim."""
    # a doc with <3 tokens has no shingles: every sig component is
    # NULL and concat_ws skips NULLs, so ALL short docs would share
    # one md5('') band key per band — a guaranteed mega-hot window
    # partition emitting only est_sim-0 pairs.  They cannot be
    # near-dups under MinHash semantics, so drop them before banding
    # (the SQL oracle mirrors the filter).
    sigs = minhash_signatures(docs).where("sig[0] is not null")
    band_cols = [F.md5(F.concat_ws(
        "_", *[F.col("sig")[b * ROWS_PER_BAND + r].cast("string")
               for r in range(ROWS_PER_BAND)])).alias(f"band{b}")
        for b in range(BANDS)]
    banded = sigs.select("doc_id", "sig", *band_cols)
    bands_long = banded.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"),
                     F.col(f"band{b}").alias("band_key"))
            for b in range(BANDS)])).alias("bk")
    ).select("doc_id", "sig", "bk.band_idx", "bk.band_key")

    est = ("size(filter(zip_with(ms[i].sig, ms[j].sig, "
           "(x, y) -> x = y), v -> v)) "
           f"/ cast({NUM_HASHES} as double)")
    pairs = _grouped_pairs(bands_long, ("band_idx", "band_key"),
                           "sig", est, "est_sim", band_cap)
    # est_sim is a pure function of the pair, so filtering BEFORE the
    # distinct both shrinks the dedup exchange and stays deterministic
    return (pairs.where(F.col("est_sim") >= min_est_sim)
            .dropDuplicates(["doc_a", "doc_b"]))


def minhash_lsh_pairs_sql(source: str = "documents",
                          min_est_sim: float = 0.5,
                          band_cap: int = BAND_CANDIDATE_CAP) -> str:
    band_exprs = ", ".join(
        "md5(" + " || '_' || ".join(
            f"sig[{b * ROWS_PER_BAND + r + 1}]::VARCHAR"
            for r in range(ROWS_PER_BAND)) + f") AS band{b}"
        for b in range(BANDS))
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, sig, {b} AS band_idx, band{b} AS band_key "
        f"FROM banded" for b in range(BANDS))
    return f"""
    WITH sigs AS (
      SELECT doc_id, {_sig_sql_duck()} AS sig FROM {source}
    ),
    banded AS (SELECT doc_id, sig, {band_exprs} FROM sigs
               WHERE sig[1] IS NOT NULL),
    bands_long AS ({band_union}),
    capped AS (
      SELECT doc_id, sig, band_idx, band_key FROM bands_long
      QUALIFY row_number() OVER (PARTITION BY band_idx, band_key
                                 ORDER BY doc_id) <= {band_cap}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           len(list_filter(range(1, {NUM_HASHES + 1}),
               i -> sig_a[i] = sig_b[i])) / {float(NUM_HASHES)!r}
           AS est_sim
    FROM cand
    WHERE len(list_filter(range(1, {NUM_HASHES + 1}),
          i -> sig_a[i] = sig_b[i])) / {float(NUM_HASHES)!r}
          >= {min_est_sim!r}
    """


# --- SimHash ---------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash over distinct tokens —
    bit i set iff sum over tokens of (2*bit_i(h60(t)) - 1) >= 0.

    Each distinct token is md5-hashed ONCE into a per-row long array
    (a projection boundary Catalyst won't inline, same device as
    minhash_signatures); the 60 bit sums then fold the precomputed
    longs — inlining the hash into every bit term re-hashed each
    token 60x, multiplying the operator's dominant cost."""
    toks = f"array_distinct({TOKS_SPARK})"
    h = _h60_spark("t", "sim")
    hs = docs.select(
        "doc_id", F.expr(f"transform({toks}, t -> {h})").alias("_hs"))
    bit_terms = " + ".join(
        f"(case when aggregate(_hs, 0L, (acc, hv) -> acc + "
        f"(cast(shiftright(hv, {i}) & 1 as bigint) * 2 - 1)) >= 0 "
        f"then cast({2 ** i} as bigint) else 0L end)"
        for i in range(SIMHASH_BITS))
    return hs.select("doc_id", F.expr(bit_terms).alias("simhash"))


def simhash_sql(source: str = "documents") -> str:
    toks = f"list_distinct({TOKS_DUCK})"
    h = _h60_duck("t", "sim")
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform({toks}, t -> "
        f"(({h} >> {i}) & 1) * 2 - 1)) >= 0 "
        f"THEN {2 ** i}::BIGINT ELSE 0 END)"
        for i in range(SIMHASH_BITS))
    return f"SELECT doc_id, ({bit_terms}) AS simhash FROM {source}"


def simhash_pairs(docs: DataFrame, max_hamming: int = 8,
                  chunk_cap: int = BAND_CANDIDATE_CAP) -> DataFrame:
    """Near-dup candidates: band the 60-bit simhash into 4x15-bit
    chunks; docs sharing any chunk are candidates (hot chunks bounded
    by the same candidate cap as MinHash bands); keep pairs with
    hamming distance <= max_hamming."""
    sh = simhash(docs)
    chunks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk_idx"),
                     F.expr(f"shiftright(simhash, {c * 15}) & 32767")
                     .alias("chunk"))
            for c in range(4)])).alias("ck")
    ).select("doc_id", "simhash", "ck.chunk_idx", "ck.chunk")
    ham = "bit_count(ms[i].simhash ^ ms[j].simhash)"
    pairs = _grouped_pairs(chunks, ("chunk_idx", "chunk"),
                           "simhash", ham, "hamming", chunk_cap)
    return (pairs.where(F.col("hamming") <= max_hamming)
            .dropDuplicates(["doc_a", "doc_b"]))


def simhash_pairs_sql(source: str = "documents",
                      max_hamming: int = 8,
                      chunk_cap: int = BAND_CANDIDATE_CAP) -> str:
    chunk_union = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk_idx, "
        f"(simhash >> {c * 15}) & 32767 AS chunk FROM sh"
        for c in range(4))
    inner = simhash_sql(source)
    return f"""
    WITH sh AS ({inner}),
    chunks AS ({chunk_union}),
    capped AS (
      SELECT doc_id, simhash, chunk_idx, chunk FROM chunks
      QUALIFY row_number() OVER (PARTITION BY chunk_idx, chunk
                                 ORDER BY doc_id) <= {chunk_cap}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM capped a JOIN capped b
        ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


# --- exact n-gram Jaccard ---------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame,
                        block_col: str = "source") -> DataFrame:
    """Exact 3-gram Jaccard for every same-block pair:
    (doc_a, doc_b, jaccard).  Blocking on ``block_col`` bounds the
    quadratic pair space (at web scale the block is the LSH candidate
    set instead)."""
    sh = with_tokens(docs).select(
        "doc_id", F.col(block_col).alias("_blk"),
        F.expr(f"array_distinct({SHINGLES_SPARK})").alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("sh").alias("sh_a"), "_blk")
    b = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("sh").alias("sh_b"), "_blk")
    pairs = a.join(b, "_blk").where(F.col("doc_a") < F.col("doc_b"))
    inter = F.expr("size(array_intersect(sh_a, sh_b))")
    union = F.expr("size(array_union(sh_a, sh_b))")
    return pairs.select(
        "doc_a", "doc_b",
        (inter.cast("double") / union.cast("double")).alias("jaccard"))


def ngram_jaccard_pairs_sql(source: str = "documents",
                            block_col: str = "source") -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, {block_col} AS blk,
             list_distinct({SHINGLES_DUCK}) AS sh
      FROM {source}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
           / len(list_distinct(a.sh || b.sh))::DOUBLE AS jaccard
    FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
    """


# --- LSH-verified exact Jaccard (the web-scale near-dup pipeline) -------------

def lsh_jaccard_verify(docs: DataFrame,
                       min_est_sim: float = 0.25,
                       band_cap: int = BAND_CANDIDATE_CAP) -> DataFrame:
    """Exact 3-gram Jaccard computed ONLY on MinHash-LSH candidate
    pairs: (doc_a, doc_b, jaccard).

    This is the end-to-end near-dup pipeline at 10^12-doc scale — the
    standalone ``ngram_jaccard_pairs`` block join is the small-scale
    fixture; here the candidate set is the LSH output (linear-ish in
    corpus size under the band cap), and the verify stage is two
    equi-joins on doc_id that ship shingle arrays only for candidate
    docs."""
    cand = minhash_lsh_pairs(docs, min_est_sim=min_est_sim,
                             band_cap=band_cap)
    sh = with_tokens(docs).select(
        "doc_id", F.expr(f"array_distinct({SHINGLES_SPARK})").alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("sh").alias("sh_b"))
    inter = F.expr("size(array_intersect(sh_a, sh_b))")
    union = F.expr("size(array_union(sh_a, sh_b))")
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b",
                    (inter.cast("double") / union.cast("double"))
                    .alias("jaccard")))


def lsh_jaccard_verify_sql(source: str = "documents",
                           min_est_sim: float = 0.25,
                           band_cap: int = BAND_CANDIDATE_CAP) -> str:
    cand = minhash_lsh_pairs_sql(source, min_est_sim=min_est_sim,
                                 band_cap=band_cap)
    return f"""
    WITH cand AS ({cand}),
    shs AS (
      SELECT doc_id, list_distinct({SHINGLES_DUCK}) AS sh
      FROM {source}
    )
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
           / len(list_distinct(a.sh || b.sh))::DOUBLE AS jaccard
    FROM cand c
    JOIN shs a ON a.doc_id = c.doc_a
    JOIN shs b ON b.doc_id = c.doc_b
    """
