"""Burn operator tests (J7): pixel histogram rendered by the sparse
pyramid."""

import numpy as np
from pyspark.sql import functions as F

from gdal2mbtiles_spark.operators.burn import pixel_histogram
from gdal2mbtiles_spark.operators.sparse import sparse_pyramid_rendered
from gdal2mbtiles_spark.renderers import PngRenderer, decode_png_rgba
from gdal2mbtiles_spark.sources.pages import synth_pages, with_geo


def _burn(spark, pts, z, min_resolution=None):
    """(images, map) of ``pts`` burned at z, levels z..min_resolution
    (native level only by default)."""
    return sparse_pyramid_rendered(
        spark, pixel_histogram(pts, z=z), z, PngRenderer(compression=1),
        min_resolution=z if min_resolution is None else min_resolution)


def _native_canvases(spark, pts, z):
    """{(x, y): decoded RGBA canvas} of the native level."""
    images, map_df = _burn(spark, pts, z)
    data = {r["tile_id"]: bytes(r["tile_data"])
            for r in images.collect()}
    return {(r["tile_column"], r["tile_row"]):
            decode_png_rgba(data[r["tile_id"]])
            for r in map_df.collect()}


def _rows(images, map_df):
    return ({(r["tile_id"], r["tile_hex"], bytes(r["tile_data"]))
             for r in images.collect()},
            {tuple(r) for r in map_df.collect()})


def test_single_point_single_pixel(spark):
    pts = spark.createDataFrame([(0.1, 0.1)], "lon double, lat double")
    tiles = _native_canvases(spark, pts, z=2)
    # lon/lat slightly NE of center: XYZ tile (2,1) -> TMS (2, 2)
    assert list(tiles) == [(2, 2)]
    arr = tiles[(2, 2)]
    nz = np.argwhere(arr[:, :, 3] > 0)
    assert len(nz) == 1
    # the hit pixel is near the tile's bottom-left (just past center)
    py, px = nz[0]
    assert px < 2 and py > 253


def test_weights_accumulate(spark):
    # 300 identical points -> one pixel with alpha from w=300
    pts = spark.createDataFrame([(10.0, 20.0)] * 300,
                                "lon double, lat double")
    tiles = _native_canvases(spark, pts, z=1)
    assert len(tiles) == 1
    arr = next(iter(tiles.values()))
    alphas = arr[arr[:, :, 3] > 0][:, 3]
    assert len(alphas) == 1
    want = min(255, int(32 * np.log2(1.0 + 300.0)))
    assert alphas[0] == want


def test_histogram_counts(spark):
    pts = synth_pages(spark, 2000)
    pts = with_geo(pts, tile_z=3)
    hist = pixel_histogram(pts, z=3)
    # total weight equals row count
    total = hist.agg(F.sum("w")).collect()[0][0]
    assert total == 2000
    # tile keys in hist match the with_geo derivation
    hkeys = {(r["x"], r["y"]) for r in
             hist.select("x", "y").distinct().collect()}
    gkeys = {(r["tile_x"], r["tile_y"]) for r in
             pts.select("tile_x", "tile_y").distinct().collect()}
    assert hkeys == gkeys


def test_burn_feeds_pyramid_and_dedup(spark):
    pts = with_geo(synth_pages(spark, 1000), tile_z=2)
    images, map_df = _burn(spark, pts, z=2, min_resolution=1)
    per_z = {r["zoom_level"]: r["count"]
             for r in map_df.groupBy("zoom_level").count().collect()}
    assert per_z[1] <= 4
    n_native = pts.select("tile_x", "tile_y").distinct().count()
    assert per_z[2] == n_native
    assert images.count() <= map_df.count()


def test_determinism_across_parallelism(spark):
    # identical output regardless of partitioning (N vs 4N invariance)
    pts = with_geo(synth_pages(spark, 500), tile_z=3)
    a = _rows(*_burn(spark, pts.repartition(2), z=3, min_resolution=0))
    b = _rows(*_burn(spark, pts.repartition(16), z=3, min_resolution=0))
    assert a == b
