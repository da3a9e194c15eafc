"""Resample / align for arbitrary (non-tile-aligned) rasters.

Whole images are carried as a DataFrame of 256x256 *blocks*
(``blocks(bx, by, px)``, top-left block grid, edge blocks zero-padded
to full size with a validity extent in the metadata) — the distributed
stand-in for the reference's lazy whole-image VIPS graph.

- **scale_blocks** re-expresses the corner-aligned affine scale
  (vips.py:246-383 ``_scale``): output pixel X samples input at
  ``x = (X - dx) / xscale`` with ``dx = (xscale - 1) / 2`` for
  bilinear and 0 for nearest (truncating) — the exact convention whose
  0.5x case degenerates to the 2x2 box filter the pyramid downsample
  uses.  Each *output* block determines the input pixel interval it
  needs (+1 halo for bilinear); the mapping output-block -> input
  blocks is computed driver-side from pure grid arithmetic and shipped
  as a join relation, so every output block receives exactly the
  input blocks it touches (the SURVEY.md §7 "halo exchange":
  duplicate-send via an explicit cover join, results equal whole-image
  resampling).
- **resample_blocks** applies the reference's ratio rules
  (vips.py:544-586): ceil sizing when up, floor when down, stretch
  (near) for ratios > 1, shrink_affine (bilinear) otherwise, and the
  geotransform/size fixups.
- **align_to_grid_blocks** embeds the image into the tile grid with a
  transparent background (vips.py:611-703): integer pixel offsets
  (left, top) from the tiled extents, output = native TMS tiles.
"""

from __future__ import annotations

import math
from dataclasses import replace
from typing import List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import RasterMeta, TILE_SIDE, XY

BLOCK_SCHEMA = "bx int, by int, px binary"
B = TILE_SIDE


def blocks_from_array(spark: SparkSession, img: np.ndarray) -> DataFrame:
    """Test/ingest helper: (h, w, 4) uint8 -> padded block rows."""
    h, w = img.shape[:2]
    nbx, nby = -(-w // B), -(-h // B)
    rows = []
    for by in range(nby):
        for bx in range(nbx):
            blk = np.zeros((B, B, 4), dtype=np.uint8)
            sub = img[by * B:(by + 1) * B, bx * B:(bx + 1) * B]
            blk[:sub.shape[0], :sub.shape[1]] = sub
            rows.append((bx, by, bytearray(blk.tobytes())))
    return spark.createDataFrame(rows, BLOCK_SCHEMA)


def blocks_to_array(blocks: DataFrame, width: int,
                    height: int) -> np.ndarray:
    """Collect blocks back into a (h, w, 4) array (tests only)."""
    out = np.zeros((-(-height // B) * B, -(-width // B) * B, 4),
                   dtype=np.uint8)
    for r in blocks.collect():
        arr = np.frombuffer(bytes(r["px"]), np.uint8).reshape(B, B, 4)
        out[r["by"] * B:(r["by"] + 1) * B,
            r["bx"] * B:(r["bx"] + 1) * B] = arr
    return out[:height, :width]


# convolution-kernel support (pixels each side of the sample point);
# 0 = point sample (near), 1 = 2-tap (bilinear), 2 = 4-tap cubics,
# 3 = 6-tap lanczos — support doubles as the block-halo width
KERNEL_SUPPORT = {"near": 0, "bilinear": 1, "cubic": 2,
                  "cubicspline": 2, "lanczos": 3}


def _kernel_weights(frac: np.ndarray, method: str) -> np.ndarray:
    """Normalized separable convolution weights.

    frac: fractional part of the sample coordinate, shape (N,).
    Returns (N, 2*support) weights over taps floor(s)+j,
    j in [-support+1, support].  Public-spec kernels: Keys cubic
    (a=-0.5, the GDAL/ITU 'cubic'), cubic B-spline ('cubicspline'),
    Lanczos a=3 — reference surface gdal.py:65-71 RESAMPLING_METHODS."""
    support = KERNEL_SUPPORT[method]
    offs = np.arange(-support + 1, support + 1, dtype=np.float64)
    t = np.abs(offs[None, :] - frac[:, None])    # (N, 2*support)
    if method == "cubic":                        # Keys, a = -0.5
        w = np.where(
            t <= 1.0, (1.5 * t - 2.5) * t * t + 1.0,
            np.where(t < 2.0,
                     ((-0.5 * t + 2.5) * t - 4.0) * t + 2.0, 0.0))
    elif method == "cubicspline":                # cubic B-spline
        w = np.where(
            t <= 1.0, 2.0 / 3.0 - t * t + 0.5 * t ** 3,
            np.where(t < 2.0, ((2.0 - t) ** 3) / 6.0, 0.0))
    elif method == "lanczos":                    # a = 3
        a = 3.0
        with np.errstate(divide="ignore", invalid="ignore"):
            w = np.where(
                t < 1e-12, 1.0,
                np.where(t < a,
                         a * np.sin(np.pi * t) * np.sin(np.pi * t / a)
                         / (np.pi * np.pi * t * t), 0.0))
    else:
        raise ValueError(f"no convolution kernel for {method!r}")
    return w / w.sum(axis=1, keepdims=True)


def _output_size(src_w: int, src_h: int, xscale: float,
                 yscale: float) -> Tuple[int, int]:
    """vips.py:552-560: ceil when upsampling, floor when downsampling."""
    if (xscale, yscale) > (1.0, 1.0):
        return (int(math.ceil(src_w * xscale)),
                int(math.ceil(src_h * yscale)))
    return (int(math.floor(src_w * xscale)),
            int(math.floor(src_h * yscale)))


def scale_blocks(blocks: DataFrame, src_w: int, src_h: int,
                 xscale: float, yscale: float,
                 interpolate: str = "bilinear",
                 out_size: Tuple[int, int] = None
                 ) -> Tuple[DataFrame, int, int]:
    """Corner-aligned affine scale of a block image.

    Returns (blocks', out_w, out_h).  Output blocks are zero-padded at
    the right/bottom edges like the input convention."""
    spark = blocks.sparkSession
    if out_size is None:
        out_w, out_h = _output_size(src_w, src_h, xscale, yscale)
    else:
        out_w, out_h = out_size
    if interpolate == "near":
        dx = dy = 0.0
    elif interpolate in KERNEL_SUPPORT:
        dx = (xscale - 1.0) / 2.0
        dy = (yscale - 1.0) / 2.0
    else:
        raise ValueError(
            f"interpolate must be one of {sorted(KERNEL_SUPPORT)}, "
            f"not {interpolate!r}")

    nbx_out, nby_out = -(-out_w // B), -(-out_h // B)
    nbx_in, nby_in = -(-src_w // B), -(-src_h // B)

    def in_range(lo_px: float, hi_px: float, n_blocks: int,
                 halo: int) -> range:
        lo = max(int(math.floor(lo_px)) - halo, 0)
        hi = min(int(math.ceil(hi_px)) + halo, n_blocks * B - 1)
        return range(lo // B, hi // B + 1)

    halo = KERNEL_SUPPORT[interpolate]
    cover: List[Tuple[int, int, int, int]] = []
    for oby in range(nby_out):
        y_lo = (oby * B - dy) / yscale
        y_hi = (min((oby + 1) * B, out_h) - 1 - dy) / yscale
        for obx in range(nbx_out):
            x_lo = (obx * B - dx) / xscale
            x_hi = (min((obx + 1) * B, out_w) - 1 - dx) / xscale
            for iby in in_range(y_lo, y_hi, nby_in, halo):
                for ibx in in_range(x_lo, x_hi, nbx_in, halo):
                    cover.append((obx, oby, ibx, iby))
    cover_df = spark.createDataFrame(
        cover, "obx int, oby int, bx int, by int")

    joined = blocks.join(cover_df, ["bx", "by"])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        obx = int(pdf["obx"].iloc[0])
        oby = int(pdf["oby"].iloc[0])
        # assemble the needed input region
        bxs = pdf["bx"].to_numpy()
        bys = pdf["by"].to_numpy()
        x0b, x1b = bxs.min(), bxs.max()
        y0b, y1b = bys.min(), bys.max()
        region = np.zeros(((y1b - y0b + 1) * B, (x1b - x0b + 1) * B, 4),
                          dtype=np.uint8)
        for bx, by, buf in zip(bxs, bys, pdf["px"]):
            arr = np.frombuffer(bytes(buf), np.uint8).reshape(B, B, 4)
            region[(by - y0b) * B:(by - y0b + 1) * B,
                   (bx - x0b) * B:(bx - x0b + 1) * B] = arr
        # output pixel coordinates of this block
        ox = np.arange(obx * B, obx * B + B)
        oy = np.arange(oby * B, oby * B + B)
        sx = (ox - dx) / xscale - x0b * B  # region-local input coords
        sy = (oy - dy) / yscale - y0b * B
        valid_x = ox < out_w
        valid_y = oy < out_h
        # clamp taps at the IMAGE edge, not the assembled region's:
        # the rightmost/bottom blocks are zero-padded to 256 multiples
        # and a kernel tap must replicate the edge pixel, not read the
        # padding (region-local coordinates)
        max_ix = min(region.shape[1], src_w - x0b * B) - 1
        max_iy = min(region.shape[0], src_h - y0b * B) - 1
        if interpolate == "near":
            ix = np.clip(sx.astype(np.int64), 0, max_ix)
            iy = np.clip(sy.astype(np.int64), 0, max_iy)
            out = region[np.ix_(iy, ix)]
        elif interpolate in ("cubic", "cubicspline", "lanczos"):
            support = KERNEL_SUPPORT[interpolate]
            offs = np.arange(-support + 1, support + 1)
            x0 = np.floor(sx).astype(np.int64)
            y0 = np.floor(sy).astype(np.int64)
            wx = _kernel_weights(sx - x0, interpolate)   # (B, T)
            wy = _kernel_weights(sy - y0, interpolate)
            idx_x = np.clip(x0[:, None] + offs[None, :], 0,
                            max_ix)                      # (B, T)
            idx_y = np.clip(y0[:, None] + offs[None, :], 0,
                            max_iy)
            regf = region.astype(np.float64)
            # separable: convolve along x for every region row once,
            # then along y per output row (T + T gathers, not T^2)
            tmp = np.zeros((region.shape[0], B, 4), dtype=np.float64)
            for j in range(len(offs)):
                tmp += wx[None, :, j, None] * regf[:, idx_x[:, j]]
            val = np.zeros((B, B, 4), dtype=np.float64)
            for j in range(len(offs)):
                val += wy[:, j, None, None] * tmp[idx_y[:, j]]
            # cubic/lanczos lobes overshoot: clamp BEFORE the uint8
            # round (GDAL does the same)
            out = np.floor(np.clip(val, 0.0, 255.0) + 0.5).astype(
                np.uint8)
        else:
            x0 = np.clip(np.floor(sx).astype(np.int64), 0, max_ix)
            y0 = np.clip(np.floor(sy).astype(np.int64), 0, max_iy)
            x1 = np.clip(x0 + 1, 0, max_ix)
            y1 = np.clip(y0 + 1, 0, max_iy)
            fx = np.clip(sx - x0, 0.0, 1.0)[None, :, None]
            fy = np.clip(sy - y0, 0.0, 1.0)[:, None, None]
            tl = region[np.ix_(y0, x0)].astype(np.float64)
            tr = region[np.ix_(y0, x1)].astype(np.float64)
            bl = region[np.ix_(y1, x0)].astype(np.float64)
            br = region[np.ix_(y1, x1)].astype(np.float64)
            val = (tl * (1 - fx) * (1 - fy) + tr * fx * (1 - fy)
                   + bl * (1 - fx) * fy + br * fx * fy)
            out = np.floor(val + 0.5).astype(np.uint8)  # round half up
        out[~valid_y, :] = 0
        out[:, ~valid_x] = 0
        return pd.DataFrame({"bx": [obx], "by": [oby],
                             "px": [out.tobytes()]})

    out_blocks = (joined.groupBy("obx", "oby")
                  .applyInPandas(kernel, schema=BLOCK_SCHEMA))
    return out_blocks, out_w, out_h


def resample_blocks(blocks: DataFrame, meta: RasterMeta,
                    resolution: int = None, places: int = 5,
                    to_world: bool = False,
                    interpolate: str = None
                    ) -> Tuple[DataFrame, RasterMeta]:
    """The reference's VipsDataset._resample / resample /
    resample_to_world (vips.py:544-609) on block DataFrames; returns
    the resampled blocks and the fixed-up metadata.

    interpolate=None keeps the reference's ratio rule (stretch/near
    when up, shrink/bilinear when down, vips.py:569-586); an explicit
    kernel name (near/bilinear/cubic/cubicspline/lanczos) overrides
    it — the engine-side analogue of the reference forwarding
    ``gdalwarp -r`` (gdal.py:195-203)."""
    if to_world:
        ratios = meta.world_scaling_ratios(resolution=resolution)
    else:
        ratios = meta.scaling_ratios(resolution=resolution,
                                     places=places)
    if ratios == XY(1.0, 1.0):
        return blocks, meta

    if interpolate is None:
        interpolate = "near" if ratios > XY(1.0, 1.0) else "bilinear"
    out, out_w, out_h = scale_blocks(
        blocks, meta.xsize, meta.ysize, ratios.x, ratios.y,
        interpolate=interpolate)

    ext = meta.extents()
    width, height = ext.dimensions
    gt = list(meta.geotransform)
    gt[1] = width / out_w
    gt[5] = -height / out_h
    if to_world:
        world = meta.srs.world_extents()
        gt[1] = world.dimensions.x / out_w
    new_meta = replace(meta, xsize=out_w, ysize=out_h,
                       geotransform=tuple(gt))
    return out, new_meta


def align_to_grid_blocks(blocks: DataFrame, meta: RasterMeta,
                         resolution: int = None
                         ) -> Tuple[DataFrame, RasterMeta]:
    """Embed into the TMS tile grid with transparent background
    (vips.py:611-703).  Output blocks == native tiles' image blocks;
    meta geotransform snaps to the tiled extents."""
    spark = blocks.sparkSession
    if resolution is None:
        resolution = meta.native_resolution()
    psz = meta.srs.pixel_dimensions(resolution)
    ext = meta.extents()
    text = meta.tiled_extents(resolution=resolution)
    left = int(round((ext.lower_left.x - text.lower_left.x) / psz.x))
    top = int(round((text.upper_right.y - ext.upper_right.y) / psz.y))

    eps = 1e-4
    width_f = text.dimensions.x / psz.x
    height_f = text.dimensions.y / psz.y
    for v, nm in ((width_f, "width"), (height_f, "height")):
        if eps < (v % 1) < 1 - eps:
            raise AssertionError(
                f"{nm} {v!r} is not within an acceptable range of an "
                f"integer")
    width, height = int(round(width_f)), int(round(height_f))
    if width % B or height % B:
        raise AssertionError(
            f"aligned size {width}x{height} is not a multiple of {B}")

    if left == top == 0 and width == meta.xsize and height == meta.ysize:
        return blocks, meta

    src_w, src_h = meta.xsize, meta.ysize
    nbx_out, nby_out = width // B, height // B
    nbx_in, nby_in = -(-src_w // B), -(-src_h // B)

    # output block -> input blocks overlapping it after the shift
    cover = []
    for oby in range(nby_out):
        sy0, sy1 = oby * B - top, (oby + 1) * B - 1 - top
        if sy1 < 0 or sy0 > src_h - 1:
            continue
        for obx in range(nbx_out):
            sx0, sx1 = obx * B - left, (obx + 1) * B - 1 - left
            if sx1 < 0 or sx0 > src_w - 1:
                continue
            for iby in range(max(sy0, 0) // B,
                             min(sy1, src_h - 1) // B + 1):
                for ibx in range(max(sx0, 0) // B,
                                 min(sx1, src_w - 1) // B + 1):
                    cover.append((obx, oby, ibx, iby))
    cover_df = spark.createDataFrame(
        cover, "obx int, oby int, bx int, by int")
    joined = blocks.join(cover_df, ["bx", "by"])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        obx = int(pdf["obx"].iloc[0])
        oby = int(pdf["oby"].iloc[0])
        out = np.zeros((B, B, 4), dtype=np.uint8)
        for bx, by, buf in zip(pdf["bx"], pdf["by"], pdf["px"]):
            arr = np.frombuffer(bytes(buf), np.uint8).reshape(B, B, 4)
            # valid extent of this input block
            vw = min(src_w - bx * B, B)
            vh = min(src_h - by * B, B)
            # destination coords of the block's top-left pixel
            dx0 = bx * B + left - obx * B
            dy0 = by * B + top - oby * B
            sx0, sy0 = max(-dx0, 0), max(-dy0, 0)
            ex = min(vw, B - dx0)
            ey = min(vh, B - dy0)
            if ex <= sx0 or ey <= sy0:
                continue
            out[dy0 + sy0:dy0 + ey, dx0 + sx0:dx0 + ex] = \
                arr[sy0:ey, sx0:ex]
        return pd.DataFrame({"bx": [obx], "by": [oby],
                             "px": [out.tobytes()]})

    out_blocks = (joined.groupBy("obx", "oby")
                  .applyInPandas(kernel, schema=BLOCK_SCHEMA))
    gt = list(meta.geotransform)
    gt[0] = text.lower_left.x
    gt[3] = text.upper_right.y
    gt[1] = text.dimensions.x / width
    gt[5] = -text.dimensions.y / height
    new_meta = replace(meta, xsize=width, ysize=height,
                       geotransform=tuple(gt))
    return out_blocks, new_meta


def blocks_to_tiles(blocks: DataFrame, meta: RasterMeta,
                    resolution: int = None) -> DataFrame:
    """Tile-aligned blocks -> native TMS tiles (the slicer,
    vips.py:761-779: x = bx + offset.x,
    y = (H_blocks - by) + offset.y - 1)."""
    if resolution is None:
        resolution = meta.native_resolution()
    ext = meta.tms_extents(resolution=resolution)
    x0, y0 = int(ext.lower_left.x), int(ext.lower_left.y)
    hb = meta.ysize // B
    return blocks.select(
        F.lit(resolution).cast("int").alias("z"),
        (F.col("bx") + x0).cast("long").alias("x"),
        (F.lit(hb) - F.col("by") + y0 - 1).cast("long").alias("y"),
        "px")
