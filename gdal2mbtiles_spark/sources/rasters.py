"""Synthetic raster sources: deterministic tile DataFrames.

Replaces the reference's GeoTIFF fixtures (FIXTURES.md §2) with
DataFrames of native-resolution TMS tiles generated distributively:
a ``spark.range`` over tile keys fans out to executors, and an
Arrow-batched ``mapInPandas`` synthesizes each 256x256 RGBA buffer
from its *global* pixel coordinates, so content is independent of
partitioning (identical at local[8] and local[32]).

Tile relation schema (the engine's native relation, SURVEY.md §1.1):

    tiles(z int, x bigint, y bigint, px binary)  -- px = raw RGBA8

x/y are TMS coordinates (y-up, row 0 at the south), z the resolution.
"""

from __future__ import annotations

from typing import Callable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import RasterMeta, TILE_SCHEMA, TILE_SIDE


def gradient_pixels(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Deterministic RGBA gradient from global pixel coords (top-left
    origin).  Analogue of the bluemarble test images: every tile is
    distinct at native resolution except where the pattern repeats."""
    h, w = gy.shape
    px = np.empty((h, w, 4), dtype=np.uint8)
    px[..., 0] = (gx % 256).astype(np.uint8)
    px[..., 1] = (gy % 256).astype(np.uint8)
    px[..., 2] = (((gx // 256) ^ (gy // 256)) * 16 % 256).astype(np.uint8)
    px[..., 3] = 255
    return px


def constant_pixels(value: Tuple[int, int, int, int]):
    def fn(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
        h, w = gy.shape
        px = np.empty((h, w, 4), dtype=np.uint8)
        px[:] = np.array(value, dtype=np.uint8)
        return px
    return fn


def native_tiles(spark: SparkSession, meta: RasterMeta,
                 pattern: Callable[[np.ndarray, np.ndarray],
                                   np.ndarray] = gradient_pixels
                 ) -> DataFrame:
    """Native-resolution TMS tiles of a (tile-aligned) raster.

    The raster must be tile-aligned (``meta.tms_extents()`` raises
    UnalignedInputError otherwise — operator P3 semantics).  Pixel
    content is ``pattern(gx, gy)`` over global pixel coordinates
    measured from the image's top-left corner, mirroring how the
    tile slicer addresses the source image (vips.py:761-779)."""
    z = meta.native_resolution()
    ext = meta.tms_extents()
    x0, y0 = int(ext.lower_left.x), int(ext.lower_left.y)
    x1, y1 = int(ext.upper_right.x), int(ext.upper_right.y)
    w = x1 - x0
    n = w * (y1 - y0)

    keys = spark.range(n).select(
        (F.lit(x0) + F.col("id") % w).alias("x"),
        (F.lit(y0) + (F.col("id") / w).cast("long")).alias("y"))

    top_y = y1 - 1  # tile row whose pixels start at image gy=0

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        side = TILE_SIDE
        u = np.arange(side)
        for pdf in batches:
            pxs = []
            for tx, ty in zip(pdf["x"].to_numpy(), pdf["y"].to_numpy()):
                gx0 = (int(tx) - x0) * side
                gy0 = (top_y - int(ty)) * side
                gx, gy = np.meshgrid(gx0 + u, gy0 + u)
                pxs.append(pattern(gx, gy).tobytes())
            yield pd.DataFrame({
                "z": np.full(len(pdf), z, dtype=np.int32),
                "x": pdf["x"].to_numpy(),
                "y": pdf["y"].to_numpy(),
                "px": pxs,
            })

    return keys.mapInPandas(gen, schema=TILE_SCHEMA)


def synth_gradient_blocks(spark: SparkSession, xsize: int,
                          ysize: int) -> DataFrame:
    """Distributed 256x256 block synthesis of the gradient pattern:
    (bx, by, px) rows generated on executors from a ``spark.range``
    over block keys — the scale path for foreign-SRS warp sources
    (the driver-side ``blocks_from_array`` twin is bounded at
    8192x8192; this one is bounded only by the cluster).  Edge blocks
    are zero-padded beyond the raster extent, bit-identical to
    ``blocks_from_array`` on the same (xsize, ysize)."""
    B = 256
    nbx, nby = -(-xsize // B), -(-ysize // B)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"bx": [], "by": [], "px": []}
            for bid in pdf["id"]:
                bx, by = int(bid) % nbx, int(bid) // nbx
                gx, gy = np.meshgrid(
                    np.arange(bx * B, (bx + 1) * B),
                    np.arange(by * B, (by + 1) * B))
                blk = gradient_pixels(gx, gy)
                # zero-pad outside the raster (blocks_from_array twin)
                blk[:, (gx[0] >= xsize)] = 0
                blk[(gy[:, 0] >= ysize), :] = 0
                out["bx"].append(bx)
                out["by"].append(by)
                out["px"].append(blk.tobytes())
            yield pd.DataFrame({"bx": pd.Series(out["bx"], dtype="int32"),
                                "by": pd.Series(out["by"], dtype="int32"),
                                "px": out["px"]})

    p = int(spark.sparkContext.defaultParallelism)
    return (spark.range(nbx * nby,
                        numPartitions=min(4 * p, nbx * nby))
            .mapInPandas(synth, schema="bx int, by int, px binary"))
