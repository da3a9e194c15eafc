"""Spatial-join tests: PIP vs brute-force oracle, kNN ring join vs
cross-join baseline, extract vs histogram-side computation
(FIXTURES.md §4/§5)."""

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal2mbtiles_spark.operators.burn import pixel_histogram
from gdal2mbtiles_spark.operators.spatial import (
    extract_poly_stats, knn_bruteforce, knn_join,
    point_in_polygon_join, ray_cast_contains)
from gdal2mbtiles_spark.sources.pages import synth_pages, with_geo
from gdal2mbtiles_spark.sources.vectors import (
    make_polygons, make_query_points, parse_polygon_wkb, polygon_wkb,
    polygons_df, query_points_df)

N_PAGES = 3000


@contextmanager
def _broadcast_threshold(spark, value):
    """spark.sql.autoBroadcastJoinThreshold set to ``value`` inside the
    block; -1 disables broadcast joins, so PIP shuffles both joins."""
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", value)
    try:
        yield
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _pairs(df, point_id="url"):
    return {(r[point_id], r["poly_id"]) for r in df.collect()}


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def geo_pages(spark):
    return with_geo(synth_pages(spark, N_PAGES)).persist()


class TestWkb:
    def test_round_trip(self):
        _, xs, ys = make_polygons(5)[3]
        wkb = polygon_wkb(xs, ys)
        bx, by = parse_polygon_wkb(wkb)
        assert np.array_equal(bx, np.array(xs))
        assert np.array_equal(by, np.array(ys))


class TestRayCast:
    def test_square(self):
        xs = np.array([0.0, 10.0, 10.0, 0.0])
        ys = np.array([0.0, 0.0, 10.0, 10.0])
        px = np.array([5.0, 15.0, -1.0, 9.99])
        py = np.array([5.0, 5.0, 5.0, 0.01])
        got = ray_cast_contains(px, py, xs, ys)
        assert got.tolist() == [True, False, False, True]

    def test_triangle(self):
        xs = np.array([0.0, 4.0, 2.0])
        ys = np.array([0.0, 0.0, 4.0])
        assert ray_cast_contains(np.array([2.0]), np.array([1.0]),
                                 xs, ys)[0]
        assert not ray_cast_contains(np.array([0.1]), np.array([3.9]),
                                     xs, ys)[0]


class TestPipJoin:
    def test_shuffle_path_matches_broadcast_path(self, spark,
                                                 geo_pages):
        # with broadcast joins disabled (the 10^6-polygon case) the
        # same plan shuffle-joins covers and vertices on (key, salt)
        polys = polygons_df(spark, 50)
        a = _pairs(point_in_polygon_join(geo_pages, polys))
        with _broadcast_threshold(spark, "-1"):
            out = point_in_polygon_join(geo_pages, polys)
            b = _pairs(out)
            assert "BroadcastHashJoin" not in _plan(out)
        assert a == b and len(a) > 0

    def test_salted_shuffle_path_bounds_hot_cell(self, spark):
        # north_rule: "explicit salted repartitioning on hot H3 cells".
        # Half the points collapse onto one cell (boilerplate city);
        # with n_salts the hot cell's candidates spread over many
        # reducers instead of one, rows identical.
        from gdal2mbtiles_spark.cells import cells_covering_bbox
        from gdal2mbtiles_spark.sources.pages import (
            SKEW_LAT, SKEW_LON, synth_pages_skewed, with_geo_skewed)

        pts = with_geo_skewed(
            synth_pages_skewed(spark, 4000, skew_fraction=0.5))
        xs = [SKEW_LON - 2, SKEW_LON + 2, SKEW_LON + 2, SKEW_LON - 2]
        ys = [SKEW_LAT - 2, SKEW_LAT - 2, SKEW_LAT + 2, SKEW_LAT + 2]
        cover = [int(c) for c in cells_covering_bbox(
            min(xs), min(ys), max(xs), max(ys))]
        polys = spark.createDataFrame(
            [(1, xs, ys, cover)],
            "poly_id int, xs array<double>, ys array<double>, "
            "cells array<long>")

        conf = spark.conf
        old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = conf.get("spark.sql.adaptive.enabled")
        # force a real shuffle join and keep reducer boundaries
        # observable (AQE would re-coalesce the tiny test partitions)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            def max_task_rows(n_salts):
                out = point_in_polygon_join(pts, polys,
                                            n_salts=n_salts)
                dist = (out.withColumn("p", F.spark_partition_id())
                        .groupBy("p").count().collect())
                return (max(r["count"] for r in dist),
                        {(r2["url"], r2["poly_id"])
                         for r2 in out.collect()})

            hot_max, rows_plain = max_task_rows(1)
            salted_max, rows_salted = max_task_rows(8)
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
            conf.set("spark.sql.adaptive.enabled", old_aqe)

        assert rows_plain == rows_salted and len(rows_plain) >= 1500
        # unsalted: every hot-cell candidate lands on ONE reducer;
        # salted: bounded by ~|hot|/n_salts (allow 2x hash slack)
        assert hot_max >= 1500
        assert salted_max <= hot_max / 2

    def test_auto_select_paths(self, spark, geo_pages):
        # the polys size estimate picks the join strategy: under the
        # default threshold both polygon sides are broadcast; under a
        # tiny one neither is hinted (AQE may still broadcast a side
        # it measures below 1 KB), with identical rows
        polys = polygons_df(spark, 50)
        out = point_in_polygon_join(geo_pages, polys)
        want = _pairs(out)
        assert "BroadcastHashJoin" in _plan(out)
        with _broadcast_threshold(spark, "1024"):
            forced_shuffle = _pairs(point_in_polygon_join(geo_pages,
                                                          polys))
        assert forced_shuffle == want and len(want) > 0

    def test_matches_bruteforce(self, spark, geo_pages):
        polys = polygons_df(spark, 50)
        got = {(r["url"], r["poly_id"])
               for r in point_in_polygon_join(geo_pages, polys)
               .collect()}
        # brute force: every point against every polygon in numpy
        pts = geo_pages.select("url", "lon", "lat").collect()
        urls = np.array([r["url"] for r in pts])
        lons = np.array([r["lon"] for r in pts])
        lats = np.array([r["lat"] for r in pts])
        want = set()
        for p, xs, ys in make_polygons(50):
            inside = ray_cast_contains(lons, lats, np.array(xs),
                                       np.array(ys))
            for u in urls[inside]:
                want.add((u, p))
        assert got == want
        assert len(want) > 0  # the fixture actually exercises hits


class TestKnn:
    def test_ring_join_matches_bruteforce(self, spark, geo_pages):
        queries = query_points_df(spark, 60)
        got = {(r["query_id"], r["rank"], r["url"])
               for r in knn_join(geo_pages, queries, res=5).collect()}
        want = {(r["query_id"], r["rank"], r["url"])
                for r in knn_bruteforce(geo_pages, queries).collect()}
        assert got == want
        # every query got exactly k rows
        ks = {q: k for q, _, _, k in make_query_points(60)}
        from collections import Counter
        per_q = Counter(q for q, _, _ in got)
        assert per_q == {q: ks[q] for q in per_q}
        assert set(per_q) == set(ks)

    def test_polar_query_settles(self, spark, geo_pages):
        # near-pole query exercises the clipped-side guard
        q = spark.createDataFrame([(0, 10.0, 84.9, 5)],
                                  "query_id int, lon double, "
                                  "lat double, k int")
        got = knn_join(geo_pages, q, res=5).collect()
        want = knn_bruteforce(geo_pages, q).collect()
        assert ({(r["query_id"], r["rank"], r["url"]) for r in got}
                == {(r["query_id"], r["rank"], r["url"]) for r in want})

    def test_high_latitude_exact(self, spark, geo_pages):
        # regression (round-2 ADVICE): the parallel-arc horizontal
        # guard dLon*cos(lat) overestimates the distance to a meridian
        # edge at high latitude, allowing a premature settle that
        # misses a closer point just outside the ring; the great-circle
        # bound asin(sin(dLon)*cos(lat)) must keep kNN exact up there
        qs = spark.createDataFrame(
            [(i, float(lon), float(lat), 7)
             for i, (lon, lat) in enumerate(
                 [(0.5, 66.0), (44.9, 70.5), (-179.8, 61.0),
                  (120.1, 79.9), (-60.0, 66.6)])],
            "query_id int, lon double, lat double, k int")
        got = {(r["query_id"], r["rank"], r["url"])
               for r in knn_join(geo_pages, qs, res=5).collect()}
        want = {(r["query_id"], r["rank"], r["url"])
                for r in knn_bruteforce(geo_pages, qs).collect()}
        assert got == want

    def test_high_res_annulus_completes_and_exact(self, spark,
                                                  geo_pages):
        # res 9 (512x512 grid): a world-covering ring would be
        # (2*512+1)^2 ≈ 1.05M offsets per query; the ring rows name
        # only non-empty cells, so the join completes and stays exact
        qs = spark.createDataFrame(
            [(i, float(lon), float(lat), 5)
             for i, (lon, lat) in enumerate(
                 [(2.3, 48.8), (-170.0, -30.0), (100.0, 70.0),
                  (0.0, -84.0), (179.9, 0.1)])],
            "query_id int, lon double, lat double, k int")
        got = knn_join(geo_pages, qs, res=9)
        rows = got.collect()
        assert all(r["settled"] for r in rows)
        assert ({(r["query_id"], r["rank"], r["url"]) for r in rows}
                == {(r["query_id"], r["rank"], r["url"])
                    for r in knn_bruteforce(geo_pages, qs).collect()})

    def test_no_persisted_rdds_leak(self, spark, geo_pages):
        # VERDICT round 1: the ring loop's persists were never
        # released; a kNN call must leave the cache where it found it
        # (+1 allowed for a transient block of the returned result,
        # which we drop here before counting)
        import gc
        q = query_points_df(spark, 10)
        before = len(spark.sparkContext._jsc.getPersistentRDDs())
        out = knn_join(geo_pages, q, res=5)
        out.count()
        del out
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        import time
        for _ in range(20):
            after = len(spark.sparkContext._jsc.getPersistentRDDs())
            if after <= before:
                break
            time.sleep(0.5)
        assert after <= before + 1

    def test_clustered_points_exact(self, spark):
        # 90% of the points in a 0.5-degree square, the rest uniform:
        # one global ring size would be too wide in the cluster and
        # too narrow beside and far from it, so every query here gets
        # its own ring from the per-cell counts
        rng = np.random.default_rng(11)
        n_in, n_out = 2700, 300
        lons = np.concatenate([rng.uniform(8.0, 8.5, n_in),
                               rng.uniform(-180.0, 180.0, n_out)])
        lats = np.concatenate([rng.uniform(47.0, 47.5, n_in),
                               rng.uniform(-85.0, 85.0, n_out)])
        pts = spark.createDataFrame(
            [(f"p{i}", float(x), float(y))
             for i, (x, y) in enumerate(zip(lons, lats))],
            "url string, lon double, lat double")
        spots = [(8.25, 47.25), (8.1, 47.4),           # inside
                 (8.7, 47.25), (7.9, 46.8), (9.5, 48.0),  # beside
                 (-120.0, -40.0), (150.0, 60.0), (0.0, 0.0)]  # far
        qs = spark.createDataFrame(
            [(i * 3 + j, lon, lat, k)
             for i, (lon, lat) in enumerate(spots)
             for j, k in enumerate((1, 5, 10))],
            "query_id int, lon double, lat double, k int")
        want = {(r["query_id"], r["rank"], r["url"])
                for r in knn_bruteforce(pts, qs).collect()}
        assert len(want) == len(spots) * 16
        for res in (None, 5, 9):
            got = {(r["query_id"], r["rank"], r["url"])
                   for r in knn_join(pts, qs, res=res).collect()}
            assert got == want, res

    def test_broadcast_joins_disabled_exact(self, spark, geo_pages):
        # a threshold of -1 disables broadcast joins: the counts are
        # still bounded (by Spark's default) and the ring rows join
        # the points by shuffle
        q = query_points_df(spark, 20)
        want = {(r["query_id"], r["rank"], r["url"])
                for r in knn_bruteforce(geo_pages, q).collect()}
        conf = spark.conf
        old = conf.get("spark.sql.autoBroadcastJoinThreshold")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            for res in (None, 5):
                out = knn_join(geo_pages, q, res=res)
                got = {(r["query_id"], r["rank"], r["url"])
                       for r in out.collect()}
                assert got == want, res
                plan = out._jdf.queryExecution().executedPlan().toString()
                assert "BroadcastHashJoin" not in plan, plan[:2000]
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_too_many_cells_raises(self, spark, geo_pages):
        # the per-cell counts are collected: past the broadcast
        # threshold the call fails loudly, naming res
        q = query_points_df(spark, 5)
        conf = spark.conf
        old = conf.get("spark.sql.autoBroadcastJoinThreshold")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        try:
            with pytest.raises(ValueError, match="res 9"):
                knn_join(geo_pages, q, res=9)
        finally:
            conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestKnnRingBounds:
    def test_bounds_hold_for_random_points(self):
        # the two geometric claims kNN exactness rests on, checked on
        # random points at every ring: a point inside ring r is no
        # farther than _farthest_km(r), a point outside is no nearer
        # than _guard_km(r); polar rows and antimeridian wrap included
        from gdal2mbtiles_spark.cells import lonlat_to_xyz
        from gdal2mbtiles_spark.operators.spatial import (
            EARTH_RADIUS_KM, _farthest_km, _guard_km)
        rng = np.random.default_rng(5)
        plon = rng.uniform(-180.0, 180.0, 4000)
        plat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 4000)))
        for res in (0, 1, 3, 5):
            n = 1 << res
            px, py = lonlat_to_xyz(plon, plat, res)
            spots = [(10.0, 84.9), (-179.9, -88.0), (0.1, 0.1),
                     (120.0, 66.0), (179.99, 45.0)] + list(zip(
                         rng.uniform(-180.0, 180.0, 10),
                         rng.uniform(-90.0, 90.0, 10)))
            for qlon, qlat in spots:
                qx, qy = (int(v[0]) for v in lonlat_to_xyz(
                    np.array([qlon]), np.array([qlat]), res))
                q, p = np.radians([qlon, qlat]), np.radians([plon, plat])
                a = (np.sin((p[1] - q[1]) / 2) ** 2 + np.cos(q[1])
                     * np.cos(p[1]) * np.sin((p[0] - q[0]) / 2) ** 2)
                dist = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))
                dx = np.abs(px - qx)
                cheb = np.maximum(np.minimum(dx, n - dx), np.abs(py - qy))
                rs = np.arange(max(n // 2, qy, n - 1 - qy) + 1)
                guard = _guard_km(qlon, qlat, qx, qy, rs, n)
                for r in rs:
                    far = _farthest_km(qlon, qlat, qx, qy, int(r), n)
                    assert (dist[cheb <= r] <= far + 1e-6).all()
                    assert (dist[cheb > r] >= guard[r] - 1e-6).all()


def _extract_both_paths(spark, hist, polys, z):
    """extract_poly_stats rows as sets, once with PIP's broadcast
    joins and once with broadcast joins disabled, which makes PIP
    shuffle; asserts which strategy each ran."""
    def run():
        out = extract_poly_stats(hist, polys, z)
        return ({(r["poly_id"], r["lit_pixels"], r["alpha_sum"])
                 for r in out.collect()}, _plan(out))

    broadcast, plan = run()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    with _broadcast_threshold(spark, "-1"):
        shuffle, plan = run()
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    return broadcast, shuffle


class TestExtract:
    def test_shuffle_path_matches_broadcast(self, spark, geo_pages):
        # extract rides PIP's path choice: the shuffle path (id-only
        # covers, no driver collect — the 10^6-polygon J7 path) must
        # equal the broadcast path exactly
        z = 4
        a, b = _extract_both_paths(spark, pixel_histogram(geo_pages, z),
                                   polygons_df(spark, 20), z)
        assert a == b and len(a) > 0

    @pytest.mark.parametrize("z", [4, 24])
    def test_alpha_sum_matches_point_side(self, spark, geo_pages, z):
        polys = polygons_df(spark, 20)
        got = {r["poly_id"]: (r["lit_pixels"], r["alpha_sum"])
               for r in extract_poly_stats(
                   pixel_histogram(geo_pages, z=z), polys, z).collect()}
        assert got, "no polygon covered any lit pixel"
        # oracle: recompute per-pixel heat from the histogram and
        # classify pixel centers in numpy
        hist = pixel_histogram(geo_pages, z=z).collect()
        n = 1 << z
        lons, lats, ws = [], [], []
        for r in hist:
            lons.append(((r["x"] + (r["ppx"] + 0.5) / 256) / n) * 360
                        - 180)
            y_xyz = n - 1 - r["y"]
            yf = (y_xyz + (r["ppy"] + 0.5) / 256) / n
            t = np.pi * (1 - 2 * yf)
            lats.append(np.degrees(np.arctan(
                (np.exp(t) - np.exp(-t)) / 2.0)))
            ws.append(r["w"])
        lons, lats = np.array(lons), np.array(lats)
        alpha = np.maximum(np.minimum(
            255, (32.0 * np.log2(1.0 + np.array(ws))).astype(np.int64)),
            1)
        want = {}
        for p, xs, ys in make_polygons(20):
            inside = ray_cast_contains(lons, lats, np.array(xs),
                                       np.array(ys))
            if inside.any():
                want[p] = (int(inside.sum()),
                           int(alpha[inside].sum()))
        assert got == want

    def test_one_pass_over_histogram(self, spark, geo_pages):
        # alpha rides the PIP join as its carried column: the plan
        # aggregates the histogram once (partial + final over
        # x, y, ppx, ppy behind one exchange) and joins only covers
        # and vertices, with no join back to the pixel relation
        import re
        plan = _plan(extract_poly_stats(pixel_histogram(geo_pages, z=6),
                                        polygons_df(spark, 20), 6))
        key = r"x#\d+L?, y#\d+L?, ppx#\d+, ppy#\d+"
        assert len(re.findall(r"HashAggregate\(keys=\[" + key,
                              plan)) == 2, plan
        assert len(re.findall(r"Exchange hashpartitioning\(" + key,
                              plan)) == 1, plan
        assert plan.count("HashJoin") == 2, plan


class TestAutoSalt:
    """Round-3 VERDICT #4: hot cells handled without the caller
    knowing — n_salts=None derives the salt count from a sampled
    candidate-cell histogram."""

    def _polys_one_hot(self, spark):
        from gdal2mbtiles_spark.cells import cells_covering_bbox
        from gdal2mbtiles_spark.sources.pages import SKEW_LAT, SKEW_LON
        xs = [SKEW_LON - 2, SKEW_LON + 2, SKEW_LON + 2, SKEW_LON - 2]
        ys = [SKEW_LAT - 2, SKEW_LAT - 2, SKEW_LAT + 2, SKEW_LAT + 2]
        cover = [int(c) for c in cells_covering_bbox(
            min(xs), min(ys), max(xs), max(ys))]
        return spark.createDataFrame(
            [(1, xs, ys, cover)],
            "poly_id int, xs array<double>, ys array<double>, "
            "cells array<long>")

    def test_skewed_fixture_picks_salts_uniform_picks_one(self, spark,
                                                          geo_pages):
        from gdal2mbtiles_spark.operators.spatial import _auto_salts
        from gdal2mbtiles_spark.sources.pages import (
            synth_pages_skewed, with_geo_skewed)

        polys = self._polys_one_hot(spark)
        poly_cells = polys.select(
            "poly_id", F.explode("cells").alias("cell"))

        hot = with_geo_skewed(
            synth_pages_skewed(spark, 4000, skew_fraction=0.5))
        n_hot = _auto_salts(hot.select("url", "lon", "lat", "cell"),
                            poly_cells, "cell", spark,
                            sample_fraction=1.0)
        assert n_hot > 1

        # uniform world-spread points over many polygons: no single
        # cell dominates, so auto must not salt
        polys50 = polygons_df(spark, 50)
        pc50 = polys50.select("poly_id",
                              F.explode("cells").alias("cell"))
        n_uni = _auto_salts(
            geo_pages.select("url", "lon", "lat", "cell"), pc50,
            "cell", spark, sample_fraction=1.0)
        assert n_uni == 1

    def test_auto_salted_rows_identical(self, spark, monkeypatch):
        # end-to-end: auto (None) vs forced n_salts=1 produce the same
        # pairs on the skewed fixture through the shuffle joins
        from gdal2mbtiles_spark.operators import spatial
        from gdal2mbtiles_spark.sources.pages import (
            synth_pages_skewed, with_geo_skewed)
        monkeypatch.setattr(spatial, "_SALT_SAMPLE_FRACTION", 1.0)
        pts = with_geo_skewed(
            synth_pages_skewed(spark, 4000, skew_fraction=0.5))
        polys = self._polys_one_hot(spark)
        with _broadcast_threshold(spark, "-1"):
            plain = _pairs(point_in_polygon_join(pts, polys, n_salts=1))
            auto = _pairs(point_in_polygon_join(pts, polys))
        assert auto == plain and len(plain) >= 1500


class TestAutoKnnRes:
    def test_res_scales_with_density(self):
        # the grid comes from per-cell counts at the base res and k:
        # the finest res whose non-empty cells hold k points on average
        from gdal2mbtiles_spark.operators.spatial import _auto_knn_res
        rng = np.random.default_rng(3)

        def pick(n_points, k, base=9):
            x = rng.integers(0, 1 << base, n_points)
            y = rng.integers(0, 1 << base, n_points)
            keys, cnt = np.unique(x << 32 | y, return_counts=True)
            res, cx, cy, c = _auto_knn_res(keys >> 32, keys & 0xFFFFFFFF,
                                           cnt, base, k)
            assert c.sum() == n_points            # roll-up keeps points
            assert len(cx) == len(set(zip(cx, cy)))
            assert n_points >= k * len(cx) or res == 0
            return res

        assert pick(500, 10) < pick(500_000, 10)   # denser: finer
        assert pick(50_000, 100) < pick(50_000, 1)  # larger k: coarser
        assert pick(5, 10) == 0                    # fewer than k: one cell
        assert pick(4_000_000, 1) == 9             # capped at base
        # 51 points in two far-apart cells average 25.5 per cell:
        # k=25 keeps base, k=30 rolls up until the two cells merge
        cells = (np.array([7, 300]), np.array([9, 500]),
                 np.array([50, 1]))
        assert _auto_knn_res(*cells, 9, 25)[0] == 9
        res, cx, cy, c = _auto_knn_res(*cells, 9, 30)
        assert (res, cx.tolist(), cy.tolist(), c.tolist()) == (
            0, [0], [0], [51])

    def test_auto_res_exact_dense_and_sparse(self, spark, geo_pages):
        # auto res (None) must stay exact vs brute force on both a
        # dense and a sparse points side, picking different grids
        queries = query_points_df(spark, 30)
        sparse_pts = geo_pages.limit(400)
        for pts in (geo_pages, sparse_pts):
            got = {(r["query_id"], r["rank"], r["url"])
                   for r in knn_join(pts, queries).collect()}
            want = {(r["query_id"], r["rank"], r["url"])
                    for r in knn_bruteforce(pts, queries).collect()}
            assert got == want


class TestIdTypeAndCellExactness:
    """Round-5 review regressions: exact integer cell unpacking at
    high res, and id-type preservation across plan choices."""

    def test_cell_xy_exact_at_max_res(self, spark):
        # long/long `/` evaluates in double and rounds above 2^53;
        # shiftright is exact for every res up to MAX_RES=29
        from gdal2mbtiles_spark.cells import pack_cell
        from gdal2mbtiles_spark.operators.spatial import _cell_xy
        res = 29
        n = 1 << res
        xs = np.array([0, 1, n - 1, n // 2, (1 << 24) + 12345],
                      dtype=np.int64)
        ys = np.array([0, n - 1, n - 1, n // 3, n - 1],
                      dtype=np.int64)
        df = spark.createDataFrame(
            [(int(c),) for c in pack_cell(xs, ys, res)], "cell long")
        cx, cy = _cell_xy(F.col("cell"), res)
        got = [(r["x"], r["y"])
               for r in df.select(cx.alias("x"), cy.alias("y"))
               .collect()]
        assert got == list(zip(xs.tolist(), ys.tolist()))

    def test_pip_string_ids_both_paths(self, spark, geo_pages):
        # string ids survive both join strategies — behaviour must not
        # flip with the polys size estimate
        polys = polygons_df(spark, 20).withColumn(
            "poly_id", F.concat(F.lit("poly-"), F.col("poly_id")))
        a = _pairs(point_in_polygon_join(geo_pages, polys))
        with _broadcast_threshold(spark, "-1"):
            b = _pairs(point_in_polygon_join(geo_pages, polys))
        assert a == b and len(a) > 0
        assert all(p.startswith("poly-") for _, p in a)

    def test_extract_bigint_ids_both_paths(self, spark, geo_pages):
        # extract once hardcoded poly_id to int32; 64-bit ids
        # overflowed — both join strategies must preserve bigint
        z = 6
        polys = polygons_df(spark, 8).withColumn(
            "poly_id",
            (F.col("poly_id").cast("bigint")
             + F.lit(3_000_000_000).cast("bigint")))
        a, b = _extract_both_paths(spark, pixel_histogram(geo_pages, z),
                                   polys, z)
        assert a == b and len(a) > 0
        assert all(p >= 3_000_000_000 for p, _, _ in a)
