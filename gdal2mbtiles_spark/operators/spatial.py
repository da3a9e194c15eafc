"""Spatial joins: point-in-polygon (J5), kNN over cell rings (J6),
raster->vector extract (J7).

Design for 10^12 rows (north_rule):

- **PIP** is one plan for every polygon-set size: a coarse *equi-join*
  on quadtree cells (id-only polygon covers exploded, broadcast when
  small), an equi-join that attaches each candidate's vertex arrays,
  and an exact vectorized ray-casting refine in one Arrow-batched
  mapInPandas.  The refine uses the *identical*
  crossing-rule expression as the SQL oracle, so classification can
  never diverge:

      crosses(edge) = (y1 > py) != (y2 > py)
                      AND px < (x2-x1)*(py-y1)/(y2-y1) + x1
      inside = odd(sum(crosses))

- **kNN** is one join in a fixed plan: one aggregate counts points per
  cell, each query's ring of cells is sized once from those counts so
  that it must hold the k nearest points, then one equi-join on cell
  and one top-k per query.  A summary of one join input becomes a
  per-query predicate on the other (*Pushing Data-Induced Predicates
  Through Joins in Big-Data Clusters*, VLDB 2019).

- **extract** joins a burn's lit pixels to polygons through the PIP
  join (one point per pixel centre) and sums them per polygon.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..cells import DEFAULT_RES, RES_SHIFT, X_SHIFT
from ..functions.tilemath import cell_id
from ..grid import TILE_SIDE
from ..session import broadcast_threshold
from .burn import heat_alpha
from .skew import with_salt

EARTH_RADIUS_KM = 6371.0088


# --- shared geometry kernels -------------------------------------------------

def ray_cast_contains(px: np.ndarray, py: np.ndarray, xs: np.ndarray,
                      ys: np.ndarray) -> np.ndarray:
    """Vectorized even-odd point-in-polygon; identical crossing rule to
    the SQL oracle (see module docstring)."""
    inside = np.zeros(len(px), dtype=bool)
    k = len(xs)
    for i in range(k):
        j = (i + 1) % k
        x1, y1, x2, y2 = xs[i], ys[i], xs[j], ys[j]
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            crossing = cond & (px < (x2 - x1) * (py - y1)
                               / (y2 - y1) + x1)
        inside ^= crossing
    return inside


def haversine_col(lon1: Column, lat1: Column, lon2: Column,
                  lat2: Column) -> Column:
    """Great-circle distance in km (same formula text as the oracle)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (F.sin(dlat / 2) ** 2
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
         * F.sin(dlon / 2) ** 2)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    return (f"(2.0 * {EARTH_RADIUS_KM!r} * asin(sqrt("
            f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
            f"cos(radians({lat1})) * cos(radians({lat2})) * "
            f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))")


# --- J5: point-in-polygon join -----------------------------------------------

# estimated broadcast bytes per exploded (poly_id, cell) cover row and
# per vertex float
_COVER_ROW_BYTES = 48
_VERT_BYTES = 16
_MAX_SALTS = 64
# share of the points _auto_salts samples for its candidate histogram
_SALT_SAMPLE_FRACTION = 0.05


def _auto_salts(pts: DataFrame, poly_cells: DataFrame, cell: str,
                spark: SparkSession, sample_fraction: float) -> int:
    """Pick n_salts for the shuffle PIP join from a sampled candidate
    cell histogram (round-3 VERDICT #4: hot cells must be handled
    without the caller knowing).

    Candidates per cell = points-in-cell x covers-on-cell, estimated
    from a seeded sample of the big side joined to the full (id-only,
    cheap) cover counts.  The ratio max-cell / ideal-per-reducer is
    scale-free (the sample factor cancels), so the same rule works at
    sf0.01 and at 10^12 rows; the sample pass is a narrow scan with a
    map-side-combined count, no wide shuffle of the big side."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    pc = (pts.sample(fraction=sample_fraction, seed=7)
          .groupBy(cell).agg(F.count("*").alias("_np")))
    cc = poly_cells.groupBy(cell).agg(F.count("*").alias("_ncov"))
    row = (pc.join(cc, cell)
           .select(F.sum(F.col("_np") * F.col("_ncov")).alias("tot"),
                   F.max(F.col("_np") * F.col("_ncov")).alias("mx"))
           .first())
    tot, mx = row["tot"] or 0, row["mx"] or 0
    if tot == 0:
        return 1
    ideal = max(tot / n_part, 1.0)
    if mx <= 4.0 * ideal:
        return 1
    return int(min(_MAX_SALTS, math.ceil(mx / ideal)))


def point_in_polygon_join(points: DataFrame, polys: DataFrame,
                          point_id: str = "url",
                          lon: str = "lon", lat: str = "lat",
                          cell: str = "cell",
                          n_salts: Optional[int] = None) -> DataFrame:
    """points (with ``cell`` at DEFAULT_RES) x polys(poly_id, xs, ys,
    cells) -> (point_id, poly_id) pairs where the point lies inside.

    ``point_id`` is the column carried with each match; it need not be
    unique, since every (point row, polygon) pair leaves the join
    exactly once.  Output columns keep the input types.

    One plan for every polygon-set size: ID-ONLY covers (poly_id,
    cell) join the points on (cell, _salt), the candidate pairs join
    the vertex arrays on (poly_id, _salt), and one Arrow-batched
    mapInPandas ray-casts them.  Vertex arrays never ride the exploded
    cover rows, so a 10k-vertex polygon covering 10k cells does not
    duplicate 10^8 floats.  When one narrow aggregate over polys
    (cover-cell and vertex counts) fits
    spark.sql.autoBroadcastJoinThreshold, both polygon sides are
    broadcast and the points never shuffle; otherwise both joins
    shuffle.

    n_salts spreads a hot cell (boilerplate city at 10^12 pages) or a
    hot polygon over up to n_salts reducers (north_rule: "explicit
    salted repartitioning on hot H3 cells"): points carry a
    deterministic pmod salt (skew.with_salt) and covers and vertex
    rows replicate across all salts.  n_salts=None (default) is 1 on
    the broadcast plan and otherwise derived from a sampled candidate
    histogram (_auto_salts)."""
    spark = points.sparkSession
    est = polys.select(
        F.sum(F.size("cells")).alias("nc"),
        F.sum(F.size("xs")).alias("nv")).first()
    est_bytes = ((est["nc"] or 0) * _COVER_ROW_BYTES
                 + (est["nv"] or 0) * 2 * _VERT_BYTES)
    small = est_bytes < broadcast_threshold(spark)
    covers = polys.select("poly_id", F.explode("cells").alias(cell))
    pts = points.select(point_id, lon, lat, cell)
    if n_salts is None:
        n_salts = 1 if small else _auto_salts(
            pts, covers, cell, spark, _SALT_SAMPLE_FRACTION)
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    covers = covers.select("poly_id", cell, salts.alias("_salt"))
    verts = polys.select("poly_id", "xs", "ys", salts.alias("_salt"))
    if small:
        covers, verts = F.broadcast(covers), F.broadcast(verts)
    pts = with_salt(pts, n_salts=n_salts, entropy_cols=[point_id])
    cand = (pts.join(covers, [cell, "_salt"])
            .join(verts, ["poly_id", "_salt"])
            .select(point_id, lon, lat, "poly_id", "xs", "ys"))

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pl = pdf[lon].to_numpy(np.float64)
            pt = pdf[lat].to_numpy(np.float64)
            pid = pdf["poly_id"].to_numpy()
            keep = np.zeros(len(pdf), dtype=bool)
            # one ray-cast per polygon in the batch, over all of its
            # candidates at once
            for p in np.unique(pid):
                m = pid == p
                first = int(np.flatnonzero(m)[0])
                xs = np.asarray(pdf["xs"].iloc[first], np.float64)
                ys = np.asarray(pdf["ys"].iloc[first], np.float64)
                keep[m] = ray_cast_contains(pl[m], pt[m], xs, ys)
            out = pdf.loc[keep, [point_id, "poly_id"]]
            if len(out):
                yield out

    pid_t = points.schema[point_id].dataType.simpleString()
    poly_t = polys.schema["poly_id"].dataType.simpleString()
    return cand.mapInPandas(
        refine, schema=f"{point_id} {pid_t}, poly_id {poly_t}")


# --- J6: kNN over per-query cell rings ---------------------------------------

def _cell_xy(cell: Column, res: int) -> Tuple[Column, Column]:
    # X_SHIFT = 2^29: extract with exact integer bit ops.  A long/long
    # `/` evaluates in DOUBLE, which rounds rem above 2^53 (res >= 25
    # with large x) and silently corrupts (x, y) — the numpy twin
    # cells.unpack_cell uses exact // for the same reason
    rem = cell - F.lit(res * RES_SHIFT)
    x = F.shiftright(rem, 29)
    y = rem - x * F.lit(X_SHIFT)
    return x, y


# res=None counts per cell at this res, then rolls up (_auto_knn_res)
_KNN_BASE_RES = 9
# broadcast bytes per non-empty cell: x, y, count and packed id
_CELL_BYTES = 32
# relative slack on the settle test, so a float rounding tie widens
# the ring instead of settling it
_SETTLE_SLACK = 1e-9
_DEG_KM = math.pi / 180.0 * EARTH_RADIUS_KM


def _cell_counts(points: DataFrame, lon: str, lat: str, res: int,
                 max_cells: int
                 ) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(x, y, count) of every non-empty cell at ``res``, from one JVM
    aggregate, collected.  More than ``max_cells`` non-empty cells
    raise ValueError; the collect never reads past that bound."""
    x, y = _cell_xy(cell_id(F.col(lon), F.col(lat), res), res)
    pdf = (points.groupBy(x.alias("x"), y.alias("y")).count()
           .limit(max_cells + 1).toPandas())
    if len(pdf) > max_cells:
        raise ValueError(
            f"knn_join: more than {max_cells} non-empty cells at res "
            f"{res} exceed the broadcast threshold "
            f"(spark.sql.autoBroadcastJoinThreshold); pass a coarser res")
    return (pdf["x"].to_numpy(np.int64), pdf["y"].to_numpy(np.int64),
            pdf["count"].to_numpy(np.int64))


def _auto_knn_res(cx: np.ndarray, cy: np.ndarray, cnt: np.ndarray,
                  base: int, k: int
                  ) -> Tuple[int, np.ndarray, np.ndarray, np.ndarray]:
    """The finest res <= base whose non-empty cells hold k points on
    average, with the counts rolled up to it: parent cell = (x >> d,
    y >> d), the cell cell_id gives at base - d (tile_x/tile_y scale
    by a power of two last, so the parent is exact).  A query inside
    the data then finds its k points within a ring of 0-1, and a
    coarser grid would only add candidates; with fewer than k points
    in all, res 0 joins every query to every point."""
    total = int(cnt.sum())
    for d in range(base + 1):
        keys, inv = np.unique(((cx >> d) << 32) | (cy >> d),
                              return_inverse=True)
        if total >= k * len(keys):
            break
    return (base - d, keys >> 32, keys & 0xFFFFFFFF,
            np.bincount(inv, weights=cnt).astype(np.int64))


def _edge_lon(x: np.ndarray, n: int) -> np.ndarray:
    """Longitude of the west edge of column x (x may pass the
    antimeridian: the ring box does not wrap)."""
    return x / n * 360.0 - 180.0


def _edge_lat(y: np.ndarray, n: int) -> np.ndarray:
    """Latitude of the *top* edge of tile row y (y-down)."""
    return np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / n))))


def _farthest_km(qlon: float, qlat: float, qx: int, qy: int, r: int,
                 n: int) -> float:
    """Upper bound on the distance from the query to any point in its
    ring r: the farthest point of the ring's lat/lon box.  At a fixed
    latitude distance grows with |dlon|, so that point lies on the
    box's farther meridian edge (dlon = 180 when the box spans every
    longitude).  Along a meridian cos(distance) is a sinusoid in
    latitude, so the farthest point is an end of the edge or, past
    dlon = 90, its turning point tan(lat) = tan(qlat) / cos(dlon), the
    point nearest the antipode.  Rows 0 and n-1 reach the poles
    (cell_id clamps latitudes beyond the Mercator limit into them)."""
    if 2 * r + 1 >= n:
        dlon = 180.0
    else:
        dlon = max(qlon - _edge_lon(qx - r, n),
                   _edge_lon(qx + r + 1, n) - qlon)
    north = 90.0 if qy - r <= 0 else float(_edge_lat(qy - r, n))
    south = -90.0 if qy + r >= n - 1 else float(_edge_lat(qy + r + 1, n))
    phi, lam = math.radians(qlat), math.radians(dlon)
    turn = math.degrees(math.atan(math.tan(phi) / math.cos(lam)))
    lat2 = np.radians([north, south, min(max(turn, south), north)])
    a = (np.sin((lat2 - phi) / 2) ** 2
         + math.cos(phi) * np.cos(lat2) * math.sin(lam / 2) ** 2)
    return float(2.0 * EARTH_RADIUS_KM
                 * np.arcsin(np.sqrt(np.minimum(a, 1.0))).max())


def _guard_km(qlon: float, qlat: float, qx: int, qy: int,
              r: np.ndarray, n: int) -> np.ndarray:
    """Great-circle LOWER bound on the distance from the query to any
    point outside its ring r, per ring in ``r``.  Horizontal edges are
    meridian segments: distance to the full meridian circle is
    R * asin(sin(dLon) * cos(qlat)) — strictly below the parallel-arc
    length dLon*cos(qlat) at high latitude, which would settle rings
    too early.  Vertical edges are parallels: the meridian
    arc R * radians(dLat) is exact.  A side clipped at the poles (or a
    horizontal span wrapping the globe) is fully covered -> +inf."""
    dlon = np.minimum(qlon - _edge_lon(qx - r, n),
                      _edge_lon(qx + r + 1, n) - qlon)
    horiz = np.where(2 * r + 1 >= n, np.inf, EARTH_RADIUS_KM * np.arcsin(
        np.minimum(1.0, np.sin(np.radians(dlon))
                   * math.cos(math.radians(qlat)))))
    north = np.where(qy - r <= 0, np.inf,
                     (_edge_lat(qy - r, n) - qlat) * _DEG_KM)
    south = np.where(qy + r + 1 >= n, np.inf,
                     (qlat - _edge_lat(qy + r + 1, n)) * _DEG_KM)
    return np.minimum(horiz, np.minimum(north, south))


def _ring(qlon: float, qlat: float, qx: int, qy: int, k: int,
          cx: np.ndarray, cy: np.ndarray, cnt: np.ndarray,
          n: int) -> Tuple[np.ndarray, float]:
    """Mask over the non-empty cells (cx, cy, cnt) of the query's ring
    R, which holds every point nearer than its k-th neighbour, and an
    upper bound on that neighbour's distance.

    R0 is the smallest ring holding at least k points: the prefix sum
    of the per-cell counts by Chebyshev distance from the query's cell
    (x wraps, y does not).  The farthest point of ring R0 bounds the
    k-th neighbour's distance from above, so R is the smallest ring
    >= R0 whose settle guard reaches that bound.  Fewer than k points
    in all: every cell, unbounded."""
    dx = np.abs(cx - qx)
    cheb = np.maximum(np.minimum(dx, n - dx), np.abs(cy - qy))
    held = np.cumsum(np.bincount(cheb, weights=cnt))
    if held[-1] < k:
        return np.ones(len(cx), dtype=bool), math.inf
    r0 = int(np.searchsorted(held, k))
    bound = _farthest_km(qlon, qlat, qx, qy, r0, n) * (1.0 + _SETTLE_SLACK)
    rs = np.arange(r0, max(n // 2, qy, n - 1 - qy) + 1)
    # the last ring covers the grid, so its guard is +inf
    r = rs[np.argmax(_guard_km(qlon, qlat, qx, qy, rs, n) >= bound)]
    return cheb <= r, bound


def knn_join(points: DataFrame, queries: DataFrame,
             res: Optional[int] = None,
             point_id: str = "url",
             lon: str = "lon", lat: str = "lat",
             k_col: str = "k") -> DataFrame:
    """k-nearest-neighbours:
    (query_id, rank, point_id, dist_km, settled).

    queries: (query_id, lon, lat, k).  points must carry lon/lat; the
    cell at ``res`` is derived here.  Four steps, exact by construction
    at any res: one JVM aggregate counts points per cell (_cell_counts);
    an Arrow UDF over the queries sizes each query's ring once from the
    broadcast counts (_ring) and emits one row per query and non-empty
    ring cell, with the query's upper bound on its k-th distance; those
    rows join the points on cell (Spark and AQE pick the strategy);
    candidates past the bound are dropped, and a row_number window (a
    sort that spills) keeps each query's k nearest, ties broken by
    point id as in knn_bruteforce.

    res=None counts at _KNN_BASE_RES (lowered until the cells fit the
    broadcast threshold) and picks the grid from those counts and the
    largest k (_auto_knn_res).  ``settled`` is always True.

    Scale: up to ~10^6 non-empty cells at ``res`` (all are collected,
    broadcast and scanned per query) and thousands of queries.  A
    query's work grows with the points in its ring, so a dense cell at
    a coarse res puts all its points through the join and the sort."""
    spark = points.sparkSession
    # the counts travel as a SparkContext broadcast, not a broadcast
    # join: a threshold that disables joins (<= 0) still bounds them
    limit = broadcast_threshold(spark)
    max_cells = (limit if limit > 0 else 32 << 20) // _CELL_BYTES
    if res is None:
        base = _KNN_BASE_RES
        while base > 0 and 4 ** base > max_cells:
            base -= 1
        k_max = queries.agg(F.max(F.col(k_col))).first()[0] or 0
        res, cx, cy, cnt = _auto_knn_res(
            *_cell_counts(points, lon, lat, base, max_cells), base, k_max)
    else:
        cx, cy, cnt = _cell_counts(points, lon, lat, res, max_cells)
    n = 1 << res
    cells = spark.sparkContext.broadcast(
        (cx, cy, cnt, res * RES_SHIFT + cx * X_SHIFT + cy))

    def rings(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cx, cy, cnt, packed = cells.value
        for pdf in batches:
            pdf = pdf[pdf["_k"] > 0] if len(cx) else pdf.iloc[:0]
            found = [_ring(*q, cx, cy, cnt, n) for q in zip(*(
                pdf[c].to_numpy() for c in
                ("_qlon", "_qlat", "_qx", "_qy", "_k")))]
            picks = [np.flatnonzero(m) for m, _ in found]
            sizes = [len(p) for p in picks]
            out = pdf.iloc[np.repeat(np.arange(len(pdf)), sizes)]
            yield out[["query_id", "_qlon", "_qlat", "_k"]].assign(
                _bound=np.repeat(np.array([b for _, b in found], float),
                                 sizes),
                _pcell=packed[np.concatenate(picks + [
                    np.empty(0, np.int64)])])

    qcell = cell_id(F.col(lon), F.col(lat), res)
    qx, qy = _cell_xy(qcell, res)
    qid_t = queries.schema["query_id"].dataType.simpleString()
    ring_cells = queries.select(
        "query_id", F.col(lon).alias("_qlon"), F.col(lat).alias("_qlat"),
        F.col(k_col).cast("int").alias("_k"), qx.alias("_qx"),
        qy.alias("_qy")).mapInPandas(
            rings, schema=f"query_id {qid_t}, _qlon double, _qlat double, "
                          f"_k int, _bound double, _pcell long")
    cand = (points.select(F.col(point_id).alias("_pid"),
                          F.col(lon).alias("_plon"),
                          F.col(lat).alias("_plat"),
                          cell_id(F.col(lon), F.col(lat), res)
                          .alias("_pcell"))
            .join(ring_cells, "_pcell")
            .select("query_id", "_k", "_pid", "_bound", haversine_col(
                F.col("_qlon"), F.col("_qlat"), F.col("_plon"),
                F.col("_plat")).alias("_dist"))
            .where(F.col("_dist") <= F.col("_bound")))
    w = W.partitionBy("query_id").orderBy("_dist", "_pid")
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.col("_k"))
            .select("query_id", "rank", F.col("_pid").alias(point_id),
                    F.col("_dist").alias("dist_km"),
                    F.lit(True).alias("settled")))


def knn_bruteforce(points: DataFrame, queries: DataFrame,
                   point_id: str = "url", lon: str = "lon",
                   lat: str = "lat", k_col: str = "k") -> DataFrame:
    """Quadratic baseline (cross join + window) — the small-scale
    oracle twin of knn_join."""
    cand = (queries.select("query_id", F.col(lon).alias("_qlon"),
                           F.col(lat).alias("_qlat"),
                           F.col(k_col).alias("_k"))
            .crossJoin(points.select(F.col(point_id).alias("_pid"),
                                     F.col(lon).alias("_plon"),
                                     F.col(lat).alias("_plat"))))
    cand = cand.withColumn("_dist", haversine_col(
        F.col("_qlon"), F.col("_qlat"), F.col("_plon"), F.col("_plat")))
    w = W.partitionBy("query_id").orderBy(F.col("_dist"), F.col("_pid"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.col("_k"))
            .select("query_id", "rank", F.col("_pid").alias(point_id),
                    F.col("_dist").alias("dist_km")))


# --- J7: raster -> vector extract ---------------------------------------------

def extract_poly_stats(hist: DataFrame, polys: DataFrame,
                       z: int) -> DataFrame:
    """Pixel stats under polygons: (poly_id, lit_pixels, alpha_sum).

    hist: a burn's pixel histogram at zoom z (burn.pixel_histogram),
    one row per lit pixel.  Raster pixels join polygons directly,
    without painting tiles first (Raptor, VLDB 2019): each lit pixel
    becomes a point at its pixel centre, and point_in_polygon_join
    classifies it with its heat alpha as the carried column — one
    pass over the histogram, no pixel key and no join back.  polys
    follow that join's contract (poly_id, xs, ys, cells at
    DEFAULT_RES)."""
    n = float(1 << z)
    side = float(TILE_SIDE)
    x = F.col("x")
    y_xyz = F.lit((1 << z) - 1) - F.col("y")            # TMS flip
    # pixel centre in the operation order of the SQL oracle; sinh is
    # spelled (e^t - e^-t)/2 there because DuckDB has no sinh
    lon = ((x + (F.col("ppx") + 0.5) / side) / n) * 360.0 - 180.0
    t = F.lit(math.pi) * (1.0 - 2.0 * ((y_xyz + (F.col("ppy") + 0.5)
                                        / side) / n))
    lat = F.degrees(F.atan((F.exp(t) - F.exp(-t)) / 2.0))
    pixels = (hist.select(lon.alias("lon"), lat.alias("lat"),
                          heat_alpha(F.col("w")).alias("alpha"))
              .withColumn("cell", cell_id(F.col("lon"), F.col("lat"),
                                          DEFAULT_RES)))
    return (point_in_polygon_join(pixels, polys, point_id="alpha")
            .groupBy("poly_id")
            .agg(F.count("*").alias("lit_pixels"),
                 F.sum("alpha").cast("long").alias("alpha_sum")))
