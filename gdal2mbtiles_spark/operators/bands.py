"""Band operators (P1: band extract — column pruning on the pixel
dimension; reference gdal.py:149-173 ``extract_color_band``).

On the tiles relation a "band" is a channel of the interleaved RGBA
buffer; extracting it is a strided numpy slice per tile.  The engine
does this BEFORE expensive downstream work for the same reason the
reference extracts before warping (gdal.py:91-101: "reduces the amount
of warping"): a single-band pipeline moves 1/4 of the bytes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..grid import TILE_SCHEMA


def extract_band(tiles: DataFrame, band: int, bands: int = 4
                 ) -> DataFrame:
    """RGBA tiles -> single-band tiles (px = 1 byte/pixel).
    ``band`` is 1-based like the reference CLI's --colorize-band."""
    if not 1 <= band <= bands:
        raise ValueError(f"band {band} must be between 1 and {bands}")
    b = band - 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["px"] = [
                np.frombuffer(bytes(buf), np.uint8)[b::bands].tobytes()
                for buf in pdf["px"]]
            yield pdf

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)


def band_to_rgba(tiles: DataFrame, alpha: int = 255) -> DataFrame:
    """Grayscale single-band tiles -> RGBA (r=g=b=v)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            out = []
            for buf in pdf["px"]:
                v = np.frombuffer(bytes(buf), np.uint8)
                px = np.empty((v.size, 4), dtype=np.uint8)
                px[:, 0] = px[:, 1] = px[:, 2] = v
                px[:, 3] = alpha
                out.append(px.tobytes())
            pdf["px"] = out
            yield pdf

    return tiles.mapInPandas(run, schema=TILE_SCHEMA)
