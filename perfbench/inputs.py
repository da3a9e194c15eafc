"""Seeded input generation.

Every input the library sees is built here from the workload seed, so
the same seed always gives the same tables:

- pages: the library's public page columns (``page_url_col``,
  ``page_text_col``, ``page_lang_col``) over an id range offset by the
  seed, written as a native Iceberg table by ``write_iceberg_pages``;
- polygons and kNN query points: a seeded numpy generator, encoded
  through ``polygon_wkb`` and covered with ``cells_covering_polygon``;
- documents and embeddings: seeded numpy tables with the schema of the
  sf0.1 fixtures (a 31-word vocabulary, planted exact and near
  duplicates, 64-dimensional clustered unit vectors), written as
  Parquet inside the benchmark's work directory.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal2mbtiles_spark.cells import DEFAULT_RES, cells_covering_polygon
from gdal2mbtiles_spark.sources.pages import (EPOCH_2025, page_lang_col,
                                              page_text_col, page_url_col)
from gdal2mbtiles_spark.sources.vectors import polygon_wkb

# page urls zero-pad the id to 8 digits, so every id must stay below
# 10^8 or two ids would share a url
_ID_SPAN = 200_000
_ID_SLOTS = 10 ** 8 // _ID_SPAN

VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector customer the join dup").split()
DOC_LANGS = ("en", "en", "zh", "es", "fr", "de")
EMB_DIM = 64
EMB_CLUSTERS = 10


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so resizing one input
    leaves the others unchanged."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def pages_df(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """``n`` pages over ids [off, off + n) with ``off`` derived from the
    seed; the columns are exactly ``synth_pages``' columns."""
    if n > _ID_SPAN:
        raise ValueError(f"at most {_ID_SPAN} pages per seed, got {n}")
    off = (seed % _ID_SLOTS) * _ID_SPAN
    url = page_url_col(F.col("id"))
    text = page_text_col(url)
    return spark.range(off, off + n).select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(EPOCH_2025) + F.col("id"))
        .alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), text,
                          F.lit("</body></html>")), "utf-8").alias("html"),
        text.alias("text"),
        page_lang_col(url).alias("lang"))


def polygons(seed: int, n: int):
    """(poly_id, xs, ys) convex k-gons, k in 3..12, radius 0.5-5 deg."""
    rng = _rng(seed, "polygons")
    out = []
    for p in range(n):
        k = int(rng.integers(3, 13))
        cx = float(rng.uniform(-180.0, 180.0))
        cy = float(rng.uniform(-60.0, 60.0))
        r = float(rng.uniform(0.5, 5.0))
        ang = 2.0 * np.pi * np.arange(k) / k
        out.append((p, [float(v) for v in cx + r * np.cos(ang)],
                    [float(v) for v in cy + r * np.sin(ang)]))
    return out


def polygons_df(spark: SparkSession, polys) -> DataFrame:
    """The ``sources.vectors.polygons_df`` relation for ``polys``."""
    pdf = pd.DataFrame({
        "poly_id": np.array([p for p, _, _ in polys], dtype=np.int32),
        "wkb": [polygon_wkb(xs, ys) for _, xs, ys in polys],
        "xs": [xs for _, xs, _ in polys],
        "ys": [ys for _, _, ys in polys],
        "cells": [[int(c) for c in cells_covering_polygon(
            xs, ys, res=DEFAULT_RES)] for _, xs, ys in polys]})
    return spark.createDataFrame(
        pdf, schema="poly_id int, wkb binary, xs array<double>, "
                    "ys array<double>, cells array<long>")


def query_points_df(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """(query_id, lon, lat, k) with k cycling through 1, 5, 10."""
    rng = _rng(seed, "queries")
    pdf = pd.DataFrame({
        "query_id": np.arange(n, dtype=np.int32),
        "lon": rng.uniform(-180.0, 180.0, n),
        "lat": rng.uniform(-80.0, 80.0, n),
        "k": np.array([(1, 5, 10)[q % 3] for q in range(n)],
                      dtype=np.int32)})
    return spark.createDataFrame(
        pdf, schema="query_id int, lon double, lat double, k int")


def documents(seed: int, n: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars): 10-100 vocabulary tokens
    per doc; 1% exact copies and 5% near copies (about 3% of tokens
    replaced) of earlier docs, so every dedup query has pairs to find."""
    rng = _rng(seed, "documents")
    texts = []
    for i in range(n):
        kind = rng.random()
        if i > 0 and kind < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 0 and kind < 0.06:
            toks = texts[int(rng.integers(0, i))].split()
            flip = rng.random(len(toks)) < 0.03
            for j in np.flatnonzero(flip):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[j] for j in
                    rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(toks))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [DOC_LANGS[j] for j in
                 rng.integers(0, len(DOC_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(seed: int, n: int) -> pd.DataFrame:
    """(vec_id, embedding float[64], label): unit vectors scattered
    around EMB_CLUSTERS unit centres; label is the centre."""
    rng = _rng(seed, "embeddings")
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, n).astype(np.int32)
    vecs = centres[label] + rng.normal(scale=0.12, size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": label})
