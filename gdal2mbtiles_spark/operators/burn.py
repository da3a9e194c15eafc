"""Raster burn (J7): vector points -> per-pixel density weights.

A pure JVM groupBy on (tile_x, tile_y, pixel_x, pixel_y) with
sum(weight), skew-proof by construction (north_rule: explicit skew
handling at hot cells): map-side partial aggregation collapses hot
cells *before* the shuffle, so a billion pages in one city shrink to
<= 65,536 pixel rows per tile and no tile key can dominate a reducer
(the histogram IS the salt — pixel keys fan the hot tile across
combiners).

The histogram is the burn's only output.  The sparse pyramid
(operators.sparse) renders it into tiles, and extract
(spatial.extract_poly_stats) joins its pixels to polygons directly;
both read a pixel's alpha from ``heat_alpha``.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cells import MAX_MERCATOR_LAT
from ..grid import TILE_SIDE


def _fractional_cols(lon: Column, lat: Column, z: int):
    """Continuous slippy coordinates (fx, fy) in tile units."""
    n = float(1 << z)
    fx = (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)
    latc = F.least(F.greatest(lat, F.lit(-MAX_MERCATOR_LAT)),
                   F.lit(MAX_MERCATOR_LAT))
    rad = F.radians(latc)
    fy = ((F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
           / F.lit(math.pi)) / F.lit(2.0) * F.lit(n))
    return fx, fy


def pixel_histogram(points: DataFrame, z: int,
                    weight: Optional[Column] = None,
                    lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Per-pixel weights.

    Output: (z, x, y, ppx, ppy, w) with x,y TMS tile keys and ppx/ppy
    the pixel offsets from the tile's top-left corner."""
    n = 1 << z
    w = F.lit(1.0) if weight is None else weight
    fx, fy = _fractional_cols(F.col(lon), F.col(lat), z)
    tx = F.least(F.greatest(F.floor(fx), F.lit(0)),
                 F.lit(n - 1)).cast("long")
    ty = F.least(F.greatest(F.floor(fy), F.lit(0)),
                 F.lit(n - 1)).cast("long")
    ppx = F.least(F.greatest(F.floor((fx - tx) * TILE_SIDE), F.lit(0)),
                  F.lit(TILE_SIDE - 1)).cast("int")
    ppy = F.least(F.greatest(F.floor((fy - ty) * TILE_SIDE), F.lit(0)),
                  F.lit(TILE_SIDE - 1)).cast("int")
    return (points
            .select(tx.alias("x"), ty.alias("y"), ppx.alias("ppx"),
                    ppy.alias("ppy"), w.alias("w"))
            .groupBy("x", "y", "ppx", "ppy")
            .agg(F.sum("w").alias("w"))
            .select(F.lit(z).cast("int").alias("z"),
                    F.col("x"),
                    (F.lit(n - 1) - F.col("y")).alias("y"),  # TMS flip
                    "ppx", "ppy", "w"))


def heat_alpha(w: Column) -> Column:
    """Heat ramp alpha of a pixel with weight ``w`` (burned pixels are
    white): max(1, min(255, floor(32*log2(1+w)))) — monotone in w,
    and any hit is visible."""
    return F.greatest(
        F.least(F.lit(255),
                F.floor(F.lit(32.0) * F.log2(F.lit(1.0) + w))),
        F.lit(1)).cast("int")
