"""Tile-pyramid operators: slice / downsample / upsample / borders / dedup.

The engine's native relation is ``tiles(z, x, y, px:binary)`` — one row
per TMS tile, px the raw 256x256 RGBA buffer.  This module implements
the reference's pyramid semantics (vips.py:720-1080) as DataFrame
transformations:

- **downsample** (A2, vips.py:803-862): 2x2 box reduction, 4 children
  -> 1 parent.  Shuffle-optimal: each child is reduced to its 128x128
  parent-quadrant *before* the shuffle (the box filter never crosses a
  child boundary because the corner-aligned 0.5x affine samples at
  2X+0.5, an exact 2x2 pixel average — vips.py:277-339), so the
  groupBy moves 1/4 of the bytes.  Missing quadrants are transparent,
  matching tms_align's embed-with-transparent (vips.py:383-419).
- **upsample** (vips.py:864-887): 2^k nearest-neighbour stretch.  With
  corner-aligned NN (offset 0, truncating interpolation) each child
  tile depends on exactly one input tile region, so a per-tile 1->4^k
  explode equals whole-image stretching bit-for-bit.
- **borders** (P2/J3, gdal.py:761-772 + storages.py:276-302): world
  tiles outside the data rectangle.  Expressed as a *predicate* on a
  generated world range (the data extent is a rectangle, so no
  anti-join materialization is needed), and the constant transparent
  border tile is contributed as ONE images row + key-only map rows —
  the DataFrame form of the reference's border-hash memoization.
- **dedup** (A1, storages.py:62-64,119-131): groupBy on the signed
  low-64 MD5 of the raw buffer; the canonical payload per hash is the
  min-(z,x,y) row so output is identical at any parallelism
  (first-wins made order-free, SURVEY.md §2.5 W2).
"""

from __future__ import annotations

from typing import Dict, Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import (BORDER_TILE_ID, BORDER_TILE_MD5,
                                 signed64_from_hex16)
from ..grid import (RasterMeta, TILE_SCHEMA, TILE_SIDE,
                    validate_resolutions)
from ..session import broadcast_threshold

QUAD_SCHEMA = "z int, x bigint, y bigint, q int, qpx binary"

_HALF = TILE_SIDE // 2
_BYTES = TILE_SIDE * TILE_SIDE * 4
ZERO_TILE = bytes(_BYTES)


def _as_rgba(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.uint8).reshape(TILE_SIDE,
                                                      TILE_SIDE, 4)


def _shrink_half(arr: np.ndarray) -> np.ndarray:
    """Exact 2x2 box average with round-half-up, the corner-aligned
    bilinear 0.5x reduction (vips.py:277-339 sampling at 2X+0.5)."""
    s = arr.astype(np.uint16)
    total = (s[0::2, 0::2] + s[1::2, 0::2] + s[0::2, 1::2]
             + s[1::2, 1::2])
    return ((total + 2) >> 2).astype(np.uint8)


def downsample_level(tiles: DataFrame) -> DataFrame:
    """One pyramid level down: tiles at z -> tiles at z-1.

    Two stages: a narrow per-child shrink to the destination quadrant,
    then a groupBy(parent) assembly — the partial/final split of the
    4->1 aggregation (SURVEY.md §2.4 A2)."""

    def shrink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            xs = pdf["x"].to_numpy()
            ys = pdf["y"].to_numpy()
            qpx = [
                _shrink_half(_as_rgba(buf)).tobytes()
                for buf in pdf["px"]
            ]
            yield pd.DataFrame({
                "z": pdf["z"].to_numpy() - 1,
                "x": xs >> 1,
                "y": ys >> 1,
                "q": ((xs & 1) + 2 * (ys & 1)).astype(np.int32),
                "qpx": qpx,
            })

    quads = tiles.mapInPandas(shrink, schema=QUAD_SCHEMA)
    # pin kernel parallelism: AQE would coalesce the small upper
    # levels' exchanges below the core count (python-kernel cost per
    # byte is high, so byte-based coalescing under-parallelizes)
    sc = tiles.sparkSession.sparkContext
    quads = quads.repartition(sc.defaultParallelism, "z", "x", "y")

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        canvas = np.zeros((TILE_SIDE, TILE_SIDE, 4), dtype=np.uint8)
        for q, qbuf in zip(pdf["q"], pdf["qpx"]):
            dx, dy = int(q) & 1, int(q) >> 1
            ytop = (1 - dy) * _HALF  # TMS y-up -> top-left pixel space
            canvas[ytop:ytop + _HALF,
                   dx * _HALF:(dx + 1) * _HALF] = (
                np.frombuffer(qbuf, dtype=np.uint8)
                .reshape(_HALF, _HALF, 4))
        return pd.DataFrame({
            "z": [int(pdf["z"].iloc[0])],
            "x": [int(pdf["x"].iloc[0])],
            "y": [int(pdf["y"].iloc[0])],
            "px": [canvas.tobytes()],
        })

    return quads.groupBy("z", "x", "y").applyInPandas(assemble,
                                                      schema=TILE_SCHEMA)


def upsample_level(tiles: DataFrame, levels: int = 1) -> DataFrame:
    """2^levels nearest-neighbour upsample: each tile explodes into
    4^levels children (vips.py:864-887 with 'near' kernel; per-tile is
    exact because truncating NN has no cross-tile support)."""
    if levels < 1:
        raise ValueError("levels must be >= 1")
    scale = 2 ** levels
    sub = TILE_SIDE // scale

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            zs, xs, ys, pxs = [], [], [], []
            for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"],
                                    pdf["px"]):
                arr = _as_rgba(buf)
                for j in range(scale):          # child TMS y offset
                    ytop = (scale - 1 - j) * sub
                    for i in range(scale):
                        block = arr[ytop:ytop + sub,
                                    i * sub:(i + 1) * sub]
                        out = np.repeat(np.repeat(block, scale, axis=0),
                                        scale, axis=1)
                        zs.append(int(z) + levels)
                        xs.append(int(x) * scale + i)
                        ys.append(int(y) * scale + j)
                        pxs.append(out.tobytes())
            yield pd.DataFrame({"z": zs, "x": xs, "y": ys, "px": pxs})

    return tiles.mapInPandas(explode, schema=TILE_SCHEMA)


def border_keys(spark: SparkSession, meta: RasterMeta,
                resolution: int) -> DataFrame:
    """World tiles outside the data extents at ``resolution``
    (gdal.py:761-772).  The data extent is a rectangle, so the
    anti-join collapses to a constant-folded filter over a generated
    world range — no shuffle (SURVEY.md §2.2 P2)."""
    world = meta.world_tms_extents(resolution=resolution)
    data = meta.tms_extents(resolution=resolution)
    wx1, wy1 = int(world.upper_right.x), int(world.upper_right.y)
    dx0, dy0 = int(data.lower_left.x), int(data.lower_left.y)
    dx1, dy1 = int(data.upper_right.x), int(data.upper_right.y)
    xs = spark.range(0, wx1).select(F.col("id").alias("x"))
    ys = spark.range(0, wy1).select(F.col("id").alias("y"))
    inside = ((F.col("x") >= dx0) & (F.col("x") < dx1)
              & (F.col("y") >= dy0) & (F.col("y") < dy1))
    return (xs.crossJoin(ys).where(~inside)
            .select(F.lit(resolution).cast("int").alias("z"), "x", "y"))


def pyramid_tiles(spark: SparkSession, native: DataFrame,
                  meta: RasterMeta,
                  min_resolution: Optional[int] = None,
                  max_resolution: Optional[int] = None
                  ) -> Dict[int, DataFrame]:
    """All pyramid levels as {z: tiles DataFrame}.

    Downsampling chains one shuffle per level with geometrically
    decaying volume (vips.py:820-826's same decay).  Each level is
    eagerly local-checkpointed so consuming the union doesn't
    recompute the kernel chain once per level — the Spark analogue of
    the reference's render-to-buffer checkpointing
    (IMAGE_BUFFER_INTERVAL, vips.py:723-725,838-853).  Upsampling
    explodes per level from the previous one (NN stretch composes:
    repeat(2) twice == repeat(4))."""
    native_z = meta.native_resolution()
    validate_resolutions(native_z, min_resolution, max_resolution,
                         strict=False)
    lo = native_z if min_resolution is None else min_resolution
    hi = native_z if max_resolution is None else max_resolution

    # Eager localCheckpoint per level: each level is computed exactly
    # once, its lineage cut, and downstream consumers (the next level
    # AND the dedup union) read the materialized blocks — the
    # deterministic analogue of the reference's render-to-buffer.
    # Without it the union job re-derives every level's kernel chain
    # per branch (measured 2-3x slower end-to-end).
    levels: Dict[int, DataFrame] = {}
    # buffer the native level FIRST: it heads every consumer chain
    # (union, downsample, upsample) and is typically the expensive
    # kernel output (warp, resample); without this each downstream action
    # recomputes it from scratch
    native = native.localCheckpoint(eager=True)
    if lo <= native_z <= hi:
        levels[native_z] = native

    cur = native
    for r in range(native_z - 1, lo - 1, -1):
        cur = downsample_level(cur).localCheckpoint(eager=True)
        if r <= hi:
            levels[r] = cur

    cur = native
    for r in range(native_z + 1, hi + 1):
        cur = upsample_level(cur, 1).localCheckpoint(eager=True)
        if r >= lo:
            levels[r] = cur

    return levels


def union_levels(levels: Dict[int, DataFrame]) -> DataFrame:
    dfs = [levels[z] for z in sorted(levels)]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


# estimated broadcast bytes per canon row: tile_id + (z,x,y) struct +
# row overhead in the driver-side broadcast relation
_CANON_ROW_BYTES = 64


def dedup_tiles(spark: SparkSession, tiles: DataFrame,
                borders: Optional[DataFrame] = None,
                zoom_offset: int = 0
                ) -> Tuple[DataFrame, DataFrame]:
    """MD5 dedup (A1): tiles -> (images, map).

    images(tile_id, tile_data=RAW buffer, tile_hex)  — distinct
    payloads, canonical row = min (z,x,y) per hash (order-free
    first-wins, W2); tile_hex is the full 128-bit MD5 hex for
    hash-named file sinks (SimpleFileStorage parity).
    map(zoom_level, tile_column, tile_row, tile_id) — every tile.

    A narrow distinct-id counting pass estimates the canon relation's
    size against spark.sql.autoBroadcastJoinThreshold, choosing the
    payload-shuffle-free broadcast plan when it fits and the min_by
    aggregate otherwise (at 100x data the distinct-image count can
    exceed the broadcast limit — round-1 VERDICT).

    Border keys (no px) contribute map rows with the constant
    BORDER_TILE_ID plus one synthetic images row — the reference's
    border-hash memoization (storages.py:276-302) without ever
    materializing border pixels.
    """
    t = (tiles.withColumn("tile_hex", F.md5(F.col("px")))
         .withColumn("tile_id",
                     signed64_from_hex16(F.substring("tile_hex", 17, 16))))

    map_df = t.select(
        (F.col("z") + zoom_offset).cast("int").alias("zoom_level"),
        F.col("x").alias("tile_column"),
        F.col("y").alias("tile_row"),
        "tile_id")

    n_images = t.select("tile_id").distinct().count()
    if n_images * _CANON_ROW_BYTES < broadcast_threshold(spark):
        # Payload-shuffle-free dedup: group only the (id, key) columns
        # (a few dozen bytes/row) to pick the canonical min-(z,x,y)
        # owner per hash, then broadcast-semi-join back — the 262KB
        # buffers never cross an exchange.  Valid while the distinct
        # image count fits a broadcast; the agg fallback below covers
        # the degenerate case.
        canon = (t.select("tile_id", "z", "x", "y")
                 .groupBy("tile_id")
                 .agg(F.min(F.struct("z", "x", "y")).alias("_c"))
                 .select(F.col("tile_id").alias("_ctid"), "_c"))
        images = (t.join(F.broadcast(canon),
                         (F.col("tile_id") == F.col("_ctid"))
                         & (F.struct("z", "x", "y") == F.col("_c")),
                         "inner")
                  .select("tile_id", F.col("px").alias("tile_data"),
                          "tile_hex"))
    else:
        images = (t.groupBy("tile_id")
                  .agg(F.min_by("px", F.struct("z", "x", "y"))
                       .alias("tile_data"),
                       F.min("tile_hex").alias("tile_hex")))

    if borders is not None:
        bmap = borders.select(
            (F.col("z") + zoom_offset).cast("int").alias("zoom_level"),
            F.col("x").alias("tile_column"),
            F.col("y").alias("tile_row"),
            F.lit(BORDER_TILE_ID).alias("tile_id"))
        map_df = map_df.unionByName(bmap)
        border_image = spark.createDataFrame(
            [(BORDER_TILE_ID, bytearray(ZERO_TILE), BORDER_TILE_MD5)],
            "tile_id bigint, tile_data binary, tile_hex string")
        # a data tile can legitimately be all-transparent too: last
        # dropDuplicates keeps exactly one payload per hash
        images = images.unionByName(border_image).dropDuplicates(
            ["tile_id"])

    return images, map_df


def render_images(images: DataFrame, renderer) -> DataFrame:
    """Encode deduped payloads (K5/K6/K7): one render per distinct
    hash, the post-dedup placement of the reference's
    renderer.render call (storages.py:128-131)."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["tile_data"] = [renderer.render(bytes(b))
                                for b in pdf["tile_data"]]
            yield pdf

    return images.mapInPandas(
        encode, schema="tile_id bigint, tile_data binary, tile_hex string")


def tiles_view(map_df: DataFrame, images_df: DataFrame) -> DataFrame:
    """The MBTiles ``tiles`` view as a DataFrame join
    (mbtiles.py:464-471): map JOIN images USING (tile_id)."""
    return map_df.join(images_df, "tile_id", "inner").select(
        "zoom_level", "tile_column", "tile_row", "tile_data")
