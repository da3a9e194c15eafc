"""Similarity search over embedding columns (array<float>).

- **ann_topk_exact**: brute-force cosine top-k, expressed two ways:
  (a) a pure Column-expression form whose 64-term left-associated dot
  product is byte-identical to the SQL oracle's, used by the
  correctness gate; (b) a numpy-matmul mapInPandas form used by the
  bench (Arrow-batched, BLAS-backed — the fast path).
- **ann_topk_lsh**: random-hyperplane LSH buckets (deterministic
  md5-seeded +-1 planes shared by all executors) — the scale path: a
  bucket equi-join replaces the cross join; probing neighbouring
  buckets (1-bit flips) recovers recall.
- **embedding_neardup_pairs**: same-label blocked cosine >= tau pairs
  (the embedding-cosine near-dup dedup variant).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

DIM = 64


def _dot_spark(a: str, b: str, dim: int = DIM) -> str:
    return " + ".join(
        f"cast(element_at({a}, {i + 1}) as double) * "
        f"cast(element_at({b}, {i + 1}) as double)"
        for i in range(dim))


def _dot_duck(a: str, b: str, dim: int = DIM) -> str:
    return " + ".join(
        f"{a}[{i + 1}]::DOUBLE * {b}[{i + 1}]::DOUBLE"
        for i in range(dim))


def _norm_spark(a: str, dim: int = DIM) -> str:
    return f"sqrt({_dot_spark(a, a, dim)})"


def _norm_duck(a: str, dim: int = DIM) -> str:
    return f"sqrt({_dot_duck(a, a, dim)})"


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Row-normalize with zero-norm rows left at zero: an all-zero
    embedding then scores 0 against everything (deterministic last
    place) instead of poisoning matmuls/argmax with NaN."""
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0.0, 1.0, n)


def ann_topk_exact(emb: DataFrame, n_queries: int = 20,
                   k: int = 10, dim: int = DIM) -> DataFrame:
    """Exact cosine top-k of every vector for the first ``n_queries``
    vec_ids, excluding self: (query_id, rank, vec_id, score)."""
    # norms are projected BEFORE the join: inlining all three 64-term
    # sums into the join consume overflows janino's 64 KB method limit
    # and silently drops the stage to interpreted eval; the hoisted
    # norm is the identical left-associated expression, so score bits
    # (and the oracle hash) are unchanged.  The nullif/coalesce
    # divisor guard maps zero-norm embeddings to score 0 (matching
    # the matmul path) instead of an ANSI DIVIDE_BY_ZERO; for nonzero
    # norms the value is bit-identical, so gates are unaffected
    q = (emb.where(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv"))
         .withColumn("qn", F.expr(_norm_spark("qv", dim))))
    v = (emb.select("vec_id", F.col("embedding").alias("vv"))
         .withColumn("vn", F.expr(_norm_spark("vv", dim))))
    cand = v.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("query_id"))
    cos = F.expr(
        f"coalesce(({_dot_spark('qv', 'vv', dim)})"
        f" / nullif(qn * vn, 0.0d), 0.0d)")
    scored = cand.select("query_id", "vec_id", cos.alias("score"))
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                          F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id",
                    F.round("score", 6).alias("score")))


def ann_topk_exact_sql(source: str = "embeddings",
                       n_queries: int = 20, k: int = 10,
                       dim: int = DIM) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM {source} WHERE vec_id < {n_queries}),
    scored AS (
      SELECT q.query_id, v.vec_id,
             ({_dot_duck('q.qv', 'v.embedding', dim)}) /
             (({_norm_duck('q.qv', dim)}) *
              ({_norm_duck('v.embedding', dim)})) AS score
      FROM q CROSS JOIN {source} v
      WHERE v.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, vec_id) AS rank
      FROM scored)
    SELECT query_id, rank::INT AS rank, vec_id,
           round(score, 6) AS score
    FROM ranked WHERE rank <= {k}
    """


def ann_topk_matmul(emb: DataFrame, n_queries: int = 20,
                    k: int = 10) -> DataFrame:
    """BLAS fast path: broadcast the query matrix, score each Arrow
    batch with one matmul, emit per-batch partial top-k, reduce with a
    final window.  Shuffles k rows per (query, batch) instead of the
    full score matrix."""
    spark = emb.sparkSession
    qrows = (emb.where(F.col("vec_id") < n_queries)
             .select("vec_id", "embedding").collect())
    qids = np.array([r["vec_id"] for r in qrows])
    qm = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qm = _unit_rows(qm)
    bq = spark.sparkContext.broadcast((qids, qm))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qm_ = bq.value
        for pdf in batches:
            vids = pdf["vec_id"].to_numpy()
            vm = np.array(list(pdf["embedding"]), dtype=np.float64)
            vm = _unit_rows(vm)
            scores = qm_ @ vm.T  # (Q, B)
            out_q, out_v, out_s = [], [], []
            kk = min(k + 1, scores.shape[1])
            for qi in range(len(qids_)):
                idx = np.argpartition(-scores[qi], kk - 1)[:kk]
                out_q.extend([qids_[qi]] * len(idx))
                out_v.extend(vids[idx])
                out_s.extend(scores[qi][idx])
            yield pd.DataFrame({"query_id": out_q, "vec_id": out_v,
                                "score": out_s})

    partial = emb.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id int, vec_id long, score double")
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                          F.col("vec_id"))
    return (partial.where(F.col("vec_id") != F.col("query_id"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id",
                    F.round("score", 6).alias("score")))


def _planes(n_planes: int, dim: int = DIM) -> np.ndarray:
    """Deterministic +-1 hyperplanes from md5 bits."""
    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        bits = []
        i = 0
        while len(bits) < dim:
            h = hashlib.md5(f"plane{p}_{i}".encode()).digest()
            for byte in h:
                for b in range(8):
                    bits.append(1.0 if (byte >> b) & 1 else -1.0)
            i += 1
        out[p] = bits[:dim]
    return out


def lsh_codes_udf(spark, n_tables: int, bits: int, dim: int = DIM):
    """pandas UDF: embedding -> array of per-table sign-bucket codes."""
    planes = _planes(n_tables * bits, dim)
    bp = spark.sparkContext.broadcast((planes, n_tables, bits))

    @F.pandas_udf("array<long>")
    def codes(embedding: pd.Series) -> pd.Series:
        pl, L, b = bp.value
        m = np.array(list(embedding), dtype=np.float64)
        signs = (m @ pl.T) > 0  # (B, L*b)
        out = np.zeros((len(m), L), dtype=np.int64)
        w = 1 << np.arange(b)
        for t in range(L):
            out[:, t] = (signs[:, t * b:(t + 1) * b] * w).sum(axis=1)
        return pd.Series(list(out))

    return codes


def ann_topk_lsh(emb: DataFrame, n_queries: int = 20, k: int = 10,
                 n_tables: int = 16, bits: int = 4) -> DataFrame:
    """Approximate top-k: classic multi-table hyperplane LSH — L
    independent tables of ``bits``-bit sign codes; candidates = union
    over tables of same-code vectors (an equi-join on
    (table, code)), then exact cosine rescoring of candidates only.

    Scale note: per-table collision probability for unrelated vectors
    is ~2^-bits, so ``bits`` should grow with log2(n / bucket_target);
    recall is recovered by raising ``n_tables``.  Defaults tuned for
    recall ~0.9 on the synthetic embeddings."""
    spark = emb.sparkSession
    codes = lsh_codes_udf(spark, n_tables, bits)
    vb = (emb.select("vec_id", "embedding",
                     codes(F.col("embedding")).alias("codes"))
          .withColumn("nrm", F.expr(_norm_spark("embedding"))))
    # posexplode_OUTER: codes always holds exactly n_tables entries,
    # so outer/inner explode are identical — but the non-outer form
    # makes Catalyst infer a pre-explode size(codes)>0 filter that
    # references the UDF column, planning the codes matmul TWICE per
    # side (a second full pass over the table at scale)
    vlong = vb.select(
        "vec_id", "embedding", "nrm",
        F.posexplode_outer("codes").alias("table_idx", "code"))
    qlong = (vlong.where(F.col("vec_id") < n_queries)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("qv"),
                     F.col("nrm").alias("qn"),
                     "table_idx", "code"))
    # broadcast the BOUNDED side (n_queries x n_tables rows) and
    # stream the table — without the hint Spark is free to broadcast
    # the full-table side, which cannot exist at 10^12 rows
    cand = (vlong.join(F.broadcast(qlong), ["table_idx", "code"])
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "qv", "qn", "vec_id", "embedding",
                    "nrm")
            .dropDuplicates(["query_id", "vec_id"]))
    # hoisted norms: see ann_topk_exact (janino 64 KB method limit)
    cos = F.expr(
        f"coalesce(({_dot_spark('qv', 'embedding')})"
        f" / nullif(qn * nrm, 0.0d), 0.0d)")
    scored = cand.select("query_id", "vec_id", cos.alias("score"))
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                          F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id",
                    F.round("score", 6).alias("score")))


def _kmeans_spherical(sample: np.ndarray, k: int,
                      iters: int = 8) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side sample:
    row-normalized Lloyd iterations under cosine, init = first ``k``
    rows of the vec_id-sorted sample, empty clusters re-seeded with
    the point worst-covered by the current centroids.  No RNG — the
    same sample always yields the same centroids (gate hashes depend
    on it)."""
    x = _unit_rows(sample)
    k = min(k, len(x))
    cent = x[:k].copy()
    for _ in range(iters):
        sims = x @ cent.T                      # (n, k)
        assign = np.argmax(sims, axis=1)
        coverage = sims.max(axis=1)
        for c in range(k):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
            else:
                v = x[int(np.argmin(coverage))]
            n = np.linalg.norm(v)
            cent[c] = v / n if n > 0 else v
    return cent


def ivf_centroids(emb: DataFrame, n_centroids: int = 16,
                  sample_cap: int = 2048, iters: int = 8,
                  dim: int = DIM) -> np.ndarray:
    """Train the IVF coarse quantizer on a BOUNDED deterministic
    sample: the ``sample_cap`` rows of least xxhash64(vec_id), ties
    broken by vec_id — one JVM top-k job, order-independent, whatever
    the table size.  The collected sample is sorted by vec_id, so the
    training set — and therefore the centroids and every downstream
    gate hash — is a pure function of the table contents."""
    rows = (emb.orderBy(F.xxhash64(F.col("vec_id")), "vec_id")
            .limit(sample_cap).select("vec_id", "embedding").collect())
    rows.sort(key=lambda r: r["vec_id"])
    sample = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return _kmeans_spherical(sample, n_centroids, iters)


def ann_topk_ivf(emb: DataFrame, n_queries: int = 20, k: int = 10,
                 n_centroids: int = 16, nprobe: int = 4,
                 dim: int = DIM) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) — the second scale
    path next to ann_topk_lsh: a coarse spherical-k-means quantizer
    routes every vector to its nearest centroid (one broadcast matmul
    per Arrow batch — no shuffle), queries probe their ``nprobe``
    nearest centroids, and the candidate set is a (query, cluster) x
    (vector, cluster) equi-join — candidates/query ~ nprobe/n_centroids
    of the table instead of all of it, then exact cosine rescoring of
    candidates only (same hoisted-norm Column expression as the LSH
    path, so scores are bit-identical where both produce a pair).

    Scale notes: centroids are a tiny broadcast (n_centroids x dim
    floats); the only shuffle is the equi-join on cluster id, whose
    query side is bounded (n_queries x nprobe rows) and broadcast.
    n_centroids should grow ~sqrt(n) at scale (IVF convention) so
    per-cluster candidate lists stay bounded; residual cluster-size
    skew is task-level only and AQE-splittable."""
    spark = emb.sparkSession
    cent = ivf_centroids(emb, n_centroids=n_centroids, dim=dim)
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def assign(embedding: pd.Series) -> pd.Series:
        c = bc.value
        m = np.array(list(embedding), dtype=np.float64)
        m = _unit_rows(m)
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32))

    @F.pandas_udf("array<int>")
    def probes(embedding: pd.Series) -> pd.Series:
        c = bc.value
        m = np.array(list(embedding), dtype=np.float64)
        m = _unit_rows(m)
        sims = m @ c.T
        npb = min(nprobe, sims.shape[1])
        order = np.argsort(-sims, axis=1)[:, :npb].astype(np.int32)
        return pd.Series(list(order))

    # coalesce(-1) makes the join key provably non-nullable, so the
    # equi-join's injected isnotnull(cluster) filter constant-folds
    # away — without it the assign UDF runs TWICE over the big side
    # (once for the null filter, once for the projection): two full
    # matmul passes instead of one
    v = (emb.select(
            "vec_id", "embedding",
            F.coalesce(assign(F.col("embedding")),
                       F.lit(-1)).alias("cluster"))
         .withColumn("nrm", F.expr(_norm_spark("embedding", dim))))
    q = (emb.where(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv"),
                 F.explode(probes(F.col("embedding"))).alias("cluster"))
         .withColumn("qn", F.expr(_norm_spark("qv", dim))))
    # no dedup exchange (round 6): a vector carries exactly ONE
    # cluster id and a query's nprobe probe list holds DISTINCT
    # cluster ids (argsort indices), so a (query, vec) pair can match
    # at most one probe row — the old dropDuplicates was a no-op that
    # cost a full shuffle + aggregate.  (ann_topk_lsh keeps its dedup:
    # there a pair CAN collide in several tables.)
    cand = (v.join(F.broadcast(q), "cluster")
            .where(F.col("vec_id") != F.col("query_id")))
    # hoisted norms: see ann_topk_exact (janino 64 KB method limit)
    cos = F.expr(
        f"coalesce(({_dot_spark('qv', 'embedding', dim)})"
        f" / nullif(qn * nrm, 0.0d), 0.0d)")
    scored = cand.select("query_id", "vec_id", cos.alias("score"))
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                          F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id",
                    F.round("score", 6).alias("score")))


def embedding_neardup_pairs(emb: DataFrame, tau: float = 0.9,
                            block_col: str = "label",
                            dim: int = DIM) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocks:
    (vec_a, vec_b, score >= tau)."""
    a = (emb.select(F.col("vec_id").alias("vec_a"),
                    F.col("embedding").alias("ea"),
                    F.col(block_col).alias("_blk"))
         .withColumn("na", F.expr(_norm_spark("ea", dim))))
    b = (emb.select(F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("eb"),
                    F.col(block_col).alias("_blk"))
         .withColumn("nb", F.expr(_norm_spark("eb", dim))))
    pairs = a.join(b, "_blk").where(F.col("vec_a") < F.col("vec_b"))
    # hoisted norms: see ann_topk_exact (janino 64 KB method limit)
    cos = F.expr(
        f"coalesce(({_dot_spark('ea', 'eb', dim)})"
        f" / nullif(na * nb, 0.0d), 0.0d)")
    return (pairs.select("vec_a", "vec_b", cos.alias("score"))
            .where(F.col("score") >= tau)
            .select("vec_a", "vec_b",
                    F.round("score", 6).alias("score")))


def embedding_neardup_lsh(emb: DataFrame, tau: float = 0.85,
                          n_tables: int = 16, bits: int = 4,
                          bucket_cap: int = 512,
                          dim: int = DIM) -> DataFrame:
    """Embedding near-dup pairs at scale: hyperplane-LSH bucket pairs
    instead of the blocked quadratic join — (vec_a, vec_b, score) with
    cosine >= tau, candidates = vectors sharing any (table, code)
    bucket, hot buckets bounded by the same row_number candidate cap
    as the MinHash bands (dedup._grouped_pairs).  Approximate by
    design (a pair hashing apart in all tables is missed) — recall
    asserted against the exact blocked pairs in tests; rows-only
    correctness gate like ann_topk_lsh."""
    from .dedup import _grouped_pairs

    spark = emb.sparkSession
    codes = lsh_codes_udf(spark, n_tables, bits)
    vlong = (emb.select("vec_id", "embedding",
                        codes(F.col("embedding")).alias("codes"))
             .withColumn("nrm", F.expr(_norm_spark("embedding", dim)))
             .select(F.col("vec_id").alias("doc_id"),
                     F.struct("embedding", "nrm").alias("emb_n"),
                     # outer: see ann_topk_lsh — avoids the inferred
                     # size(codes)>0 filter that doubles the matmul
                     F.posexplode_outer("codes")
                     .alias("table_idx", "code")))
    # hoisted norms: see ann_topk_exact (janino 64 KB method limit)
    dot = _dot_spark("ms[i].emb_n.embedding",
                     "ms[j].emb_n.embedding", dim)
    cos = (f"coalesce(({dot}) / nullif(ms[i].emb_n.nrm"
           f" * ms[j].emb_n.nrm, 0.0d), 0.0d)")
    pairs = _grouped_pairs(vlong, ("table_idx", "code"), "emb_n",
                           cos, "score", bucket_cap)
    return (pairs.where(F.col("score") >= tau)
            .dropDuplicates(["doc_a", "doc_b"])
            .select(F.col("doc_a").alias("vec_a"),
                    F.col("doc_b").alias("vec_b"),
                    F.round("score", 6).alias("score")))


def embedding_neardup_pairs_sql(source: str = "embeddings",
                                tau: float = 0.9,
                                block_col: str = "label",
                                dim: int = DIM) -> str:
    cos = (f"({_dot_duck('a.embedding', 'b.embedding', dim)}) / "
           f"(({_norm_duck('a.embedding', dim)}) * "
           f"({_norm_duck('b.embedding', dim)}))")
    return f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({cos}, 6) AS score
    FROM {source} a JOIN {source} b
      ON a.{block_col} = b.{block_col} AND a.vec_id < b.vec_id
    WHERE {cos} >= {tau!r}
    """
