"""End-to-end pyramid tests: golden tile sets, dedup counts, borders,
MBTiles output — the DataFrame re-expression of the reference's
tests/test_helpers.py + tests/test_scripts.py golden suites."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal2mbtiles_spark.functions.hashing import (BORDER_TILE_ID,
                                                  tile_id_of_bytes)
from gdal2mbtiles_spark.grid import (RasterMeta, SRS_MERCATOR,
                                     whole_world_raster_meta)
from gdal2mbtiles_spark.helpers import image_mbtiles, image_slice
from gdal2mbtiles_spark.mbtiles import MBTilesFile
from gdal2mbtiles_spark.operators.pyramid import (
    ZERO_TILE, border_keys, dedup_tiles, downsample_level, pyramid_tiles,
    union_levels, upsample_level)
from gdal2mbtiles_spark.renderers import decode_png_rgba
from gdal2mbtiles_spark.sources.rasters import (constant_pixels,
                                                gradient_pixels,
                                                native_tiles)

QUARTER = SRS_MERCATOR.major_circumference() / 4


def aligned_quadrant_meta():
    px = QUARTER / 256
    return RasterMeta(xsize=256, ysize=256,
                      geotransform=(-QUARTER, px, 0.0, 0.0, 0.0, -px))


def tiles_dict(df):
    return {(r["z"], r["x"], r["y"]): bytes(r["px"])
            for r in df.collect()}


class TestNativeTiles:
    def test_world_1024_tile_set(self, spark):
        meta = whole_world_raster_meta(1024, 1024)
        df = native_tiles(spark, meta)
        keys = {(r["z"], r["x"], r["y"])
                for r in df.select("z", "x", "y").collect()}
        assert keys == {(2, x, y) for x in range(4) for y in range(4)}

    def test_pixels_follow_global_coords(self, spark):
        meta = whole_world_raster_meta(512, 512)
        got = tiles_dict(native_tiles(spark, meta))
        # tile (0,1) is the top-left image block: gx0=gy0=0
        arr = np.frombuffer(got[(1, 0, 1)], np.uint8).reshape(256, 256, 4)
        assert arr[0, 0, 0] == 0 and arr[0, 0, 1] == 0
        assert arr[0, 255, 0] == 255      # gx=255 -> r=255
        # tile (1,0) is the bottom-right block: gx0=gy0=256
        arr = np.frombuffer(got[(1, 1, 0)], np.uint8).reshape(256, 256, 4)
        assert arr[0, 0, 0] == 0          # gx=256 -> r=256%256=0
        assert arr[0, 0, 2] == (((256 // 256) ^ (256 // 256)) * 16) % 256
        # off-diagonal block (0,0) (bottom-left): gx0=0, gy0=256 -> b=16
        arr = np.frombuffer(got[(1, 0, 0)], np.uint8).reshape(256, 256, 4)
        assert arr[0, 0, 2] == 16


class TestDownsample:
    def test_counts_and_keys(self, spark):
        meta = whole_world_raster_meta(1024, 1024)
        df = native_tiles(spark, meta)
        z1 = downsample_level(df)
        keys = {(r["z"], r["x"], r["y"])
                for r in z1.select("z", "x", "y").collect()}
        assert keys == {(1, x, y) for x in range(2) for y in range(2)}

    def test_box_average_exact(self, spark):
        # constant-color world: every downsampled pixel keeps the color
        meta = whole_world_raster_meta(512, 512)
        df = native_tiles(spark, meta,
                          pattern=constant_pixels((10, 20, 30, 255)))
        z0 = downsample_level(df)
        rows = z0.collect()
        assert len(rows) == 1
        arr = np.frombuffer(bytes(rows[0]["px"]), np.uint8)
        assert np.array_equal(arr.reshape(-1, 4)[0], [10, 20, 30, 255])
        assert (arr.reshape(-1, 4) == [10, 20, 30, 255]).all()

    def test_quadrant_placement(self, spark):
        # single aligned tile (1,1)@z2 -> parent (0,0)@z1, data in the
        # top-right quadrant, rest transparent (tms_align embed)
        meta = aligned_quadrant_meta()
        df = native_tiles(spark, meta,
                          pattern=constant_pixels((255, 0, 0, 255)))
        rows = downsample_level(df).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["z"], r["x"], r["y"]) == (1, 0, 0)
        arr = np.frombuffer(bytes(r["px"]), np.uint8).reshape(256, 256, 4)
        assert (arr[:128, 128:] == [255, 0, 0, 255]).all()   # top-right
        assert (arr[:128, :128] == 0).all()                  # top-left
        assert (arr[128:, :] == 0).all()                     # bottom half

    def test_gradient_downsample_matches_numpy(self, spark):
        # full-image oracle: shrink the whole 512x512 gradient in numpy
        # and compare against the distributed per-tile pipeline
        meta = whole_world_raster_meta(512, 512)
        df = native_tiles(spark, meta)
        got = tiles_dict(downsample_level(df))
        u = np.arange(512)
        gx, gy = np.meshgrid(u, u)
        img = gradient_pixels(gx, gy).astype(np.uint16)
        total = (img[0::2, 0::2] + img[1::2, 0::2] + img[0::2, 1::2]
                 + img[1::2, 1::2])
        want = ((total + 2) >> 2).astype(np.uint8)
        arr = np.frombuffer(got[(0, 0, 0)], np.uint8).reshape(256, 256, 4)
        assert np.array_equal(arr, want)


class TestUpsample:
    def test_explode_keys(self, spark):
        meta = whole_world_raster_meta(256, 256)
        df = native_tiles(spark, meta)
        z1 = upsample_level(df, 1)
        keys = {(r["z"], r["x"], r["y"])
                for r in z1.select("z", "x", "y").collect()}
        assert keys == {(1, x, y) for x in range(2) for y in range(2)}

    def test_nearest_neighbour_exact(self, spark):
        meta = whole_world_raster_meta(256, 256)
        df = native_tiles(spark, meta)
        got = tiles_dict(upsample_level(df, 1))
        u = np.arange(256)
        gx, gy = np.meshgrid(u, u)
        src = gradient_pixels(gx, gy)
        big = np.repeat(np.repeat(src, 2, axis=0), 2, axis=1)
        # child (0,1) = top-left 256x256 of the stretched image
        arr = np.frombuffer(got[(1, 0, 1)], np.uint8).reshape(256, 256, 4)
        assert np.array_equal(arr, big[:256, :256])
        # child (1,0) = bottom-right
        arr = np.frombuffer(got[(1, 1, 0)], np.uint8).reshape(256, 256, 4)
        assert np.array_equal(arr, big[256:, 256:])

    def test_two_levels_compose(self, spark):
        meta = whole_world_raster_meta(256, 256)
        df = native_tiles(spark, meta)
        once_twice = tiles_dict(upsample_level(upsample_level(df, 1), 1))
        direct = tiles_dict(upsample_level(df, 2))
        assert once_twice == direct


class TestBordersAndDedup:
    def test_border_keys_aligned(self, spark):
        meta = aligned_quadrant_meta()
        got = {(r["x"], r["y"])
               for r in border_keys(spark, meta, 2).collect()}
        assert got == {(x, y) for x in range(4) for y in range(4)
                       if (x, y) != (1, 1)}

    def test_world_has_no_borders(self, spark):
        meta = whole_world_raster_meta(1024, 1024)
        assert border_keys(spark, meta, 2).count() == 0

    def test_dedup_constant_world(self, spark):
        # constant world: 1+4+16 = 21 map rows, exactly 1 image
        meta = whole_world_raster_meta(1024, 1024)
        df = native_tiles(spark, meta,
                          pattern=constant_pixels((7, 7, 7, 255)))
        levels = pyramid_tiles(spark, df, meta, min_resolution=0)
        images, map_df = dedup_tiles(spark, union_levels(levels))
        assert map_df.count() == 21
        assert images.count() == 1

    def test_dedup_border_memoization(self, spark):
        meta = aligned_quadrant_meta()
        df = native_tiles(spark, meta,
                          pattern=constant_pixels((1, 2, 3, 255)))
        borders = border_keys(spark, meta, 2)
        images, map_df = dedup_tiles(spark, df, borders=borders)
        assert map_df.count() == 16              # full z2 world
        imgs = {r["tile_id"]: bytes(r["tile_data"])
                for r in images.collect()}
        assert len(imgs) == 2                    # data tile + border tile
        assert imgs[BORDER_TILE_ID] == ZERO_TILE
        border_rows = map_df.where(
            F.col("tile_id") == BORDER_TILE_ID).count()
        assert border_rows == 15

    def test_dedup_all_transparent_data_collides_with_border(self, spark):
        # a legitimately all-transparent data tile must share the border
        # image row (hash equality), not duplicate it
        meta = aligned_quadrant_meta()
        df = native_tiles(spark, meta,
                          pattern=constant_pixels((0, 0, 0, 0)))
        borders = border_keys(spark, meta, 2)
        images, map_df = dedup_tiles(spark, df, borders=borders)
        assert images.count() == 1
        assert map_df.count() == 16

    def test_dedup_broadcast_and_agg_paths_identical(self, spark):
        # the broadcast threshold selects the path: a roomy one takes
        # the broadcast canon join, a 64-byte one the min_by aggregate;
        # both must emit identical (images, map)
        meta = whole_world_raster_meta(1024, 1024)
        df = native_tiles(spark, meta)
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        outs = {}
        try:
            for threshold in ("10m", "64"):
                spark.conf.set(key, threshold)
                images, map_df = dedup_tiles(spark, df)
                plan = images._jdf.queryExecution().analyzed().toString()
                outs["min_by" in plan] = (
                    sorted((r["tile_id"], r["tile_hex"],
                            bytes(r["tile_data"]))
                           for r in images.collect()),
                    sorted(tuple(r) for r in map_df.collect()))
        finally:
            spark.conf.set(key, old)
        assert set(outs) == {False, True}
        assert outs[False] == outs[True]

    def test_dedup_auto_fallback_to_agg(self, spark):
        # force the fallback by shrinking the broadcast threshold so
        # even a 16-image canon exceeds it
        meta = whole_world_raster_meta(1024, 1024)
        df = native_tiles(spark, meta)
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "64")   # bytes: 16 images won't fit
            images, map_df = dedup_tiles(spark, df)
            assert "min_by" in images._jdf.queryExecution().analyzed(
                ).toString()
            # gradient world at z2: B = (tx ^ ty)*16 -> 4 distinct images
            assert images.count() == 4 and map_df.count() == 16
        finally:
            spark.conf.set(key, old)

    def test_zoom_offset(self, spark):
        # storages.py:277-279: zoom_offset shifts z in map rows
        meta = whole_world_raster_meta(256, 256)
        df = native_tiles(spark, meta)
        _, map_df = dedup_tiles(spark, df, zoom_offset=2)
        assert [r["zoom_level"] for r in map_df.collect()] == [2]


class TestPyramidGoldens:
    def test_world_pyramid_tile_counts(self, spark):
        # CLI oracle {1: 4, 2: 16} (+z0=1): tests/test_scripts.py:130-141
        meta = whole_world_raster_meta(1024, 1024)
        df = native_tiles(spark, meta)
        levels = pyramid_tiles(spark, df, meta, min_resolution=0)
        all_tiles = union_levels(levels)
        counts = {r["z"]: r["count"] for r in
                  all_tiles.groupBy("z").count().collect()}
        assert counts == {0: 1, 1: 4, 2: 16}

    def test_upsample_pyramid_counts(self, spark):
        # upsampling.tif z0 native -> max 3: {0:1,1:4,2:16,3:64}
        # (tests/test_helpers.py:300-418)
        meta = whole_world_raster_meta(256, 256)
        df = native_tiles(spark, meta)
        levels = pyramid_tiles(spark, df, meta, min_resolution=0,
                               max_resolution=3)
        counts = {z: levels[z].count() for z in levels}
        assert counts == {0: 1, 1: 4, 2: 16, 3: 64}


class TestMbtilesEndToEnd:
    def test_aligned_quadrant_mbtiles(self, spark, tmp_path):
        # the tests/test_helpers.py:25-52 golden: full z0-2 pyramid of
        # the aligned quadrant with borders; bounds -90,-90,0,0
        meta = aligned_quadrant_meta()
        df = native_tiles(spark, meta)
        out = str(tmp_path / "aligned.mbtiles")
        f = image_mbtiles(
            spark, df, meta, out,
            metadata=dict(name="aligned", type="baselayer",
                          version="1.0.0", description="test",
                          format="png"),
            min_resolution=0, fill_borders=True)
        f.close()

        with MBTilesFile(out) as m:
            md = m.metadata()
            assert md["bounds"] == "-90.0,-90.0,0.0,0.0"
            assert md["x-minzoom"] == "0" and md["x-maxzoom"] == "2"
            rows = list(m.all())
        by_zoom = {}
        for z, x, y, data in rows:
            by_zoom.setdefault(z, set()).add((x, y))
        assert by_zoom[2] == {(x, y) for x in range(4) for y in range(4)}
        assert by_zoom[1] == {(x, y) for x in range(2) for y in range(2)}
        assert by_zoom[0] == {(0, 0)}
        # payloads decode back to 256x256 RGBA
        arr = decode_png_rgba(rows[0][3])
        assert arr.shape == (256, 256, 4)

    def test_mbtiles_tile_get_and_dedup(self, spark, tmp_path):
        meta = whole_world_raster_meta(256, 256)
        df = native_tiles(spark, meta,
                          pattern=constant_pixels((9, 9, 9, 255)))
        out = str(tmp_path / "const.mbtiles")
        f = image_mbtiles(
            spark, df, meta, out,
            metadata=dict(name="c", type="overlay", version="1",
                          description="d", format="png"),
            max_resolution=1, fill_borders=False)
        f.close()
        with MBTilesFile(out) as m:
            n_images = m._conn.execute(
                "SELECT count(*) FROM images").fetchone()[0]
            n_map = m._conn.execute(
                "SELECT count(*) FROM map").fetchone()[0]
            assert n_images == 1 and n_map == 5
            data = m.get(0, 0, 0)
        arr = decode_png_rgba(data)
        assert (arr.reshape(-1, 4) == [9, 9, 9, 255]).all()


class TestImageSlice:
    def test_hash_named_files_with_symlinks(self, spark, tmp_path):
        # constant world at z0..0 single level, 4 tiles at z1 after
        # upsample? -- keep single native level: 1 real file per hash,
        # duplicates as symlinks (tests/test_storages.py:56-80 pattern)
        meta = whole_world_raster_meta(512, 512)
        df = native_tiles(spark, meta,
                          pattern=constant_pixels((5, 5, 5, 255)))
        outdir = str(tmp_path / "slice")
        image_slice(spark, df, meta, outdir, fill_borders=False)
        names = sorted(os.listdir(outdir))
        assert len(names) == 4
        links = [n for n in names if os.path.islink(
            os.path.join(outdir, n))]
        real = [n for n in names if not os.path.islink(
            os.path.join(outdir, n))]
        assert len(real) == 1 and len(links) == 3
        # canonical owner = raster-scan first = top row, min x = (0,1)
        assert real[0].startswith("1-0-1-")
        # symlinks resolve to the real file's bytes
        for n in links:
            assert (open(os.path.join(outdir, n), "rb").read()
                    == open(os.path.join(outdir, real[0]), "rb").read())
