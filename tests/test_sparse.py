"""Sparse relational pyramid: equivalence with the buffer pipeline."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal2mbtiles_spark.functions.hashing import tile_id_of_bytes
from gdal2mbtiles_spark.grid import TILE_SCHEMA, whole_world_raster_meta
from gdal2mbtiles_spark.operators.burn import pixel_histogram
from gdal2mbtiles_spark.operators.pyramid import (dedup_tiles,
                                                  pyramid_tiles,
                                                  union_levels)
from gdal2mbtiles_spark.operators import sparse
from gdal2mbtiles_spark.operators.sparse import (_shrink_sparse,
                                                 sparse_pyramid_rendered)
from gdal2mbtiles_spark.renderers import PngRenderer, decode_png_rgba
from gdal2mbtiles_spark.sources.pages import synth_pages, with_geo

Z = 4
N = 3000
DUP_Z = 8
# (native z, min_resolution) per histogram fixture
LEVELS = {"hist": (Z, 0), "dup_hist": (DUP_Z, DUP_Z - 2)}


@pytest.fixture(scope="module")
def hist(spark):
    pages = with_geo(synth_pages(spark, N), tile_z=Z)
    return pixel_histogram(pages, z=Z).persist()


@pytest.fixture(scope="module")
def dup_hist(spark):
    """One lit pixel per tile at DUP_Z, drawn from four (offset,
    weight) choices, so most tiles repeat another tile's content."""
    rng = np.random.RandomState(5)
    n = 1 << DUP_Z
    cells = rng.choice(n * n, size=300, replace=False)
    rows = [(DUP_Z, int(c % n), int(c // n), int(rng.choice([3, 100])),
             7, float(rng.choice([1, 5]))) for c in cells]
    return spark.createDataFrame(
        rows, "z int, x bigint, y bigint, ppx int, ppy int, w double")


def _painted_tiles(spark, hist):
    """Dense burn tiles painted on the driver: each histogram pixel
    white with the heat-ramp alpha, in an otherwise zero canvas."""
    canvases = {}
    for r in hist.collect():
        key = (r["z"], r["x"], r["y"])
        if key not in canvases:
            canvases[key] = np.zeros((256, 256, 4), np.uint8)
        alpha = max(1, min(255, int(32.0 * np.log2(1.0 + r["w"]))))
        canvases[key][r["ppy"], r["ppx"]] = (255, 255, 255, alpha)
    return spark.createDataFrame(pd.DataFrame({
        "z": [k[0] for k in canvases], "x": [k[1] for k in canvases],
        "y": [k[2] for k in canvases],
        "px": [c.tobytes() for c in canvases.values()]}),
        schema=TILE_SCHEMA)


def _buffered_dedup(spark, hist, z, min_resolution):
    """The buffer pipeline: painted tiles -> pyramid -> dedup (raw
    payloads)."""
    meta = whole_world_raster_meta(256 * (1 << z), 256 * (1 << z))
    levels = pyramid_tiles(spark, _painted_tiles(spark, hist), meta,
                           min_resolution=min_resolution)
    return dedup_tiles(spark, union_levels(levels))


def test_sparse_equals_buffer_pipeline(spark, hist):
    # buffer path: burn -> pyramid -> dedup (raw) -> render
    b_images, b_map = _buffered_dedup(spark, hist, Z, 0)
    b_map_rows = {(r["zoom_level"], r["tile_column"], r["tile_row"],
                   r["tile_id"]) for r in b_map.collect()}
    b_hexes = {r["tile_hex"] for r in b_images.collect()}

    # sparse fused path
    s_images, s_map = sparse_pyramid_rendered(
        spark, hist, Z, PngRenderer(compression=1), min_resolution=0)
    s_map_rows = {(r["zoom_level"], r["tile_column"], r["tile_row"],
                   r["tile_id"]) for r in s_map.collect()}
    s_img = {r["tile_hex"]: bytes(r["tile_data"])
             for r in s_images.collect()}

    assert s_map_rows == b_map_rows          # identical tile content
    assert set(s_img) == b_hexes             # identical distinct images
    # payloads are valid PNGs decoding to 256x256 RGBA
    arr = decode_png_rgba(next(iter(s_img.values())))
    assert arr.shape == (256, 256, 4)


def _rows(df):
    return sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                        else v for v in row) for row in df.collect())


def test_multi_phase_equals_single_phase(spark, dup_hist, monkeypatch):
    # the defaults run passes 8..4, 3..3 and 2..0: two contents
    # bridges.  One deep pass (8..3, then 2..0) must give identical
    # outputs.
    many = sparse_pyramid_rendered(spark, dup_hist, DUP_Z,
                                   PngRenderer(compression=1),
                                   min_resolution=0)
    with monkeypatch.context() as m:
        m.setattr(sparse, "_PHASE_DEPTH", 16)
        one = sparse_pyramid_rendered(spark, dup_hist, DUP_Z,
                                      PngRenderer(compression=1),
                                      min_resolution=0)
    for a, b in zip(one, many):
        assert _rows(a) == _rows(b)


@pytest.mark.parametrize("z", [8, 14])
def test_all_zero_at_bridge_keeps_ancestors(spark, z):
    """A lone faint native pixel (w=1: (255,255,255,32)) is all-zero
    after five 2x2 shrinks, so its level-(z-5) tile has empty content.
    At z8 that is level 3, the bridge from the 3..3 pass into the
    final 2..0 pass; at z14 it is level 9, so the level-5 bridge
    between the 9..5 and 4..3 passes is empty too.  The tile still has a map
    row on every level, and the all-zero ones show the blank canvas."""
    n = 1 << z
    x, y = n // 3, n // 5
    hist = spark.createDataFrame(
        [(z, x, y, 200, 17, 1.0)],
        "z int, x bigint, y bigint, ppx int, ppy int, w double")
    _images, map_df = sparse_pyramid_rendered(
        spark, hist, z, PngRenderer(compression=1), min_resolution=0)
    tiles = {(r["zoom_level"], r["tile_column"], r["tile_row"]):
             r["tile_id"] for r in map_df.collect()}
    assert set(tiles) == {(lvl, x >> (z - lvl), y >> (z - lvl))
                          for lvl in range(z + 1)}
    blank = tile_id_of_bytes(bytes(256 * 256 * 4))
    for (lvl, _, _), tid in tiles.items():
        assert (tid == blank) == (lvl <= z - 5)


def _counting_renderer(spark):
    """A PngRenderer that counts its render calls in an accumulator."""
    renders = spark.sparkContext.accumulator(0)

    class CountingPng(PngRenderer):
        def render(self, raw, **kw):
            renders.add(1)
            return super().render(raw, **kw)

    return CountingPng(compression=1), renders


@pytest.mark.parametrize("fixture", ["hist", "dup_hist"])
def test_images_distinct_equal_dedup_tiles(spark, request, fixture):
    # images are distinct by construction (no canon dedup step), and
    # their tile ids are exactly the buffered pipeline's dedup output
    hist = request.getfixturevalue(fixture)
    z, min_res = LEVELS[fixture]
    images, _ = sparse_pyramid_rendered(
        spark, hist, z, PngRenderer(compression=1),
        min_resolution=min_res)
    ids = [r["tile_id"] for r in images.select("tile_id").collect()]
    assert len(ids) == len(set(ids))
    b_images, _ = _buffered_dedup(spark, hist, z, min_res)
    assert set(ids) == {r["tile_id"]
                        for r in b_images.select("tile_id").collect()}


@pytest.mark.parametrize("fixture", ["hist", "dup_hist"])
def test_render_once_per_distinct_content(spark, request, fixture):
    # the render stage paints+hashes+encodes each distinct content
    # exactly once, pyramid-wide, and is materialized once: later
    # actions on either output never re-render
    hist = request.getfixturevalue(fixture)
    z, min_res = LEVELS[fixture]
    renderer, renders = _counting_renderer(spark)
    images, map_df = sparse_pyramid_rendered(
        spark, hist, z, renderer, min_resolution=min_res)
    n = renders.value
    assert n == images.count()
    assert n == images.select("tile_id").distinct().count()
    n_map = map_df.count()
    images.collect()
    map_df.select("tile_id").distinct().count()
    assert renders.value == n
    if fixture == "dup_hist":
        assert n < n_map / 2          # most tiles repeat a content


@pytest.mark.parametrize("z", [6, 7])
def test_content_equals_canvas(spark, z):
    """Two level-(z-5) tiles paint the same canvas, but one also holds
    a faint native pixel that shrank to all-zero RGBA on the way down:
    one image row, two map rows.  A tile holding only such a pixel
    keeps its map row and shows the blank canvas.  The tiles are in
    the final pass below the pass floor: 2..1 after 6..3 at z6, the
    single level 2..2 after 7..3 at z7."""
    lvl = z - 5
    width = 256 << 5                 # one level-lvl tile, native pixels

    def px(gx, gy, w):
        return (z, gx >> 8, (1 << z) - 1 - (gy >> 8), gx & 255,
                gy & 255, float(w))

    # a saturated 32x32 native block is one (255,255,255,255) pixel at
    # level lvl (local (10, 20)), in tile A and at the same offset in B
    block = [(gx, gy) for gx in range(320, 352) for gy in range(640, 672)]
    rows = [px(gx, gy, 255) for gx, gy in block]
    rows += [px(gx + width, gy, 255) for gx, gy in block]
    # w=1 is (255,255,255,32); five 2x2 shrinks take it to all zero
    rows.append(px(4000, 5000, 1))                   # into tile A
    rows.append(px(1000, width + 3000, 1))           # alone: tile C
    hist = spark.createDataFrame(
        rows, "z int, x bigint, y bigint, ppx int, ppy int, w double")
    images, map_df = sparse_pyramid_rendered(
        spark, hist, z, PngRenderer(compression=1), min_resolution=lvl)
    tiles = {(r["zoom_level"], r["tile_column"], r["tile_row"]):
             r["tile_id"] for r in map_df.collect()}
    ids = [r["tile_id"] for r in images.select("tile_id").collect()]
    assert len(ids) == len(set(ids))
    assert set(tiles.values()) == set(ids)
    row = (1 << lvl) - 1                             # TMS row of y-down 0
    a, b = tiles[(lvl, 0, row)], tiles[(lvl, 1, row)]
    c = tiles[(lvl, 0, row - 1)]
    assert a == b
    assert ids.count(a) == 1
    assert sum(t == a for t in tiles.values()) == 2
    assert c == tile_id_of_bytes(bytes(256 * 256 * 4))


def test_no_rows_cross_the_driver(spark, dup_hist, monkeypatch):
    """Every level, the ones below the pass floor included, comes from
    a distributed content pass: no frame is pulled to the driver."""
    def no_collect(self):
        raise AssertionError("toPandas on the pyramid path")

    # the concrete class: it defines its own toPandas
    monkeypatch.setattr(type(dup_hist), "toPandas", no_collect)
    _images, map_df = sparse_pyramid_rendered(
        spark, dup_hist, DUP_Z, PngRenderer(compression=1),
        min_resolution=0)
    levels = {r["zoom_level"]
              for r in map_df.select("zoom_level").distinct().collect()}
    assert levels == set(range(DUP_Z + 1))


def test_zoom_bound(spark, hist):
    # owners pack z into 5 bits above x and y
    with pytest.raises(ValueError):
        sparse_pyramid_rendered(spark, hist, 30,
                                PngRenderer(compression=1),
                                min_resolution=30)


def test_downsample_pixels_box_semantics():
    """_shrink_sparse, the pipeline's one 2x2 box step on sparse
    pixels: parent = (sum of children + 2) >> 2 per channel."""
    def shrink(rows):
        a = np.array(rows, np.int64)
        gx, gy, ch = _shrink_sparse(a[:, 0], a[:, 1],
                                    [a[:, i] for i in range(2, 6)])
        return [(int(gx[i]), int(gy[i]), *(int(c[i]) for c in ch))
                for i in range(len(gx))]

    # 4 children of one parent pixel with known alphas; saturated
    # white stays 255
    assert shrink([(10, 10, 255, 255, 255, 100),
                   (11, 10, 255, 255, 255, 50),
                   (10, 11, 255, 255, 255, 25),
                   (11, 11, 255, 255, 255, 11)]) == [
        (5, 5, 255, 255, 255, (100 + 50 + 25 + 11 + 2) // 4)]
    # partial parent: 1 lit child only -> other three contribute 0
    lit = (255 + 2) // 4
    assert shrink([(20, 20, 255, 255, 255, 200)]) == [
        (10, 10, lit, lit, lit, (200 + 2) // 4)]


def test_min_resolution_final_phase_is_materialized(spark, hist):
    """min_resolution == the final phase's bottom leaves that phase
    without a checkpoint of its own: its only consumer is the render
    stage, whose eager checkpoint runs it once, so neither output's
    plan holds a Python kernel.  Output parity with the full pyramid's
    matching levels is the correctness half."""
    from gdal2mbtiles_spark.operators.sparse import \
        sparse_pyramid_rendered
    images, map_df = sparse_pyramid_rendered(
        spark, hist, 6, PngRenderer(compression=1), min_resolution=5)
    # consumers read checkpointed blocks — no pandas kernel in the
    # executed plan of either output
    for df in (images, map_df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InPandas" not in plan, plan[:2000]
    got = {(r["zoom_level"], r["tile_column"], r["tile_row"],
            r["tile_id"]) for r in map_df.collect()}
    assert {z for z, *_ in got} == {5, 6}
    _full_images, full_map = sparse_pyramid_rendered(
        spark, hist, 6, PngRenderer(compression=1), min_resolution=0)
    want = {(r["zoom_level"], r["tile_column"], r["tile_row"],
             r["tile_id"])
            for r in full_map.collect() if r["zoom_level"] >= 5}
    assert got == want
