"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline: deterministic pages ->
geocode -> burn to a pixel histogram -> sparse pyramid with MD5 dedup,
returning the per-zoom tile/image summary.

``queries()`` / ``oracle_sql()`` pair each implemented operator from
SURVEY.md §2 with an ANSI-SQL equivalent DuckDB runs on the same
inputs.  Queries over the synthetic pages table synthesize it
identically on both engines (sources.pages.pages_sql emits the same
expression tree DuckDB-side), so value hashes match bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal2mbtiles_spark.cells import DEFAULT_RES
from gdal2mbtiles_spark.functions.tilemath import (
    cell_id_sql, geo_lat_sql, geo_lon_sql, tile_x_sql, tile_y_tms_sql)
from gdal2mbtiles_spark.operators.burn import pixel_histogram
from gdal2mbtiles_spark.operators.sparse import sparse_pyramid_rendered
from gdal2mbtiles_spark.renderers import TouchRenderer
from gdal2mbtiles_spark.operators.spatial import (
    extract_poly_stats, haversine_sql, knn_join, point_in_polygon_join)
from gdal2mbtiles_spark.sources.pages import (pages_sql, synth_pages,
                                              with_geo)
from gdal2mbtiles_spark.sources.vectors import (
    polygon_edges_sql, polygons_df, query_points_df, query_points_sql)
from gdal2mbtiles_spark.operators import dedup as _dedup
from gdal2mbtiles_spark.operators import similarity as _sim
from gdal2mbtiles_spark.functions import text as _text


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

PAGES_N = 20_000   # correctness-scale pages table (both engines)
PYRAMID_N = 5_000  # smaller N for the kernel-heavy pyramid queries
BURN_Z = 4
KNN_N = 10_000     # points for the kNN query
KNN_Q = 100        # kNN query points


def _burn_pyramid(spark: SparkSession, n_pages: int,
                  min_resolution: int) -> tuple[DataFrame, DataFrame]:
    """(images, map) of n_pages geocoded pages burned at BURN_Z, over
    levels BURN_Z..min_resolution.  Only tile ids are read, so the
    null renderer skips the PNG encode."""
    pages = with_geo(synth_pages(spark, n_pages))
    return sparse_pyramid_rendered(
        spark, pixel_histogram(pages, BURN_Z), BURN_Z, TouchRenderer(),
        min_resolution=min_resolution)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages -> geocode -> burn z4 -> pyramid z0-4 with
    dedup; returns per-zoom (tiles, distinct_images)."""
    _images, map_df = _burn_pyramid(spark, 1_000, 0)
    return (map_df.groupBy("zoom_level")
            .agg(F.count("*").alias("n_tiles"),
                 F.countDistinct("tile_id").alias("n_distinct"))
            .orderBy("zoom_level"))


# ---------------------------------------------------------------------------
# correctness-gate queries
# ---------------------------------------------------------------------------

def _q_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: deterministic md5 geocode of every page url."""
    pages = with_geo(synth_pages(spark, PAGES_N))
    return pages.select("url", "lon", "lat")


def _q_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: lon/lat -> TMS tile keys; pages per tile at z7."""
    pages = with_geo(synth_pages(spark, PAGES_N), tile_z=7)
    return (pages.groupBy("tile_z", "tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages"))
            .select(F.col("tile_z").alias("z"),
                    F.col("tile_x").alias("x"),
                    F.col("tile_y").alias("y"), "n_pages"))


def _q_cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: quadtree cell encode at res 7; pages per cell."""
    pages = with_geo(synth_pages(spark, PAGES_N), res=DEFAULT_RES)
    return pages.groupBy("cell").agg(F.count("*").alias("n_pages"))


def _q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-prunable dimension column derivation (input_hint
    lang)."""
    pages = synth_pages(spark, PAGES_N)
    return pages.groupBy("lang").agg(F.count("*").alias("n_pages"))


def _q_text_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: byte-identical extracted text per url, verified as
    md5(text) equality end-to-end."""
    pages = synth_pages(spark, PAGES_N)
    return pages.select("url", F.md5(F.col("text")).alias("text_md5"),
                        F.length("text").alias("text_len"))


def _q_pyramid_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/U2: tile counts per level of the sparse burn pyramid (map
    rows per zoom); the oracle derives the same counts from distinct
    parent keys (x>>k, y>>k) in SQL."""
    _images, map_df = _burn_pyramid(spark, PYRAMID_N, 0)
    return (map_df.groupBy(F.col("zoom_level").alias("z"))
            .agg(F.count("*").alias("n_tiles")))


def _q_tile_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: MD5 tile dedup over the burned native level — map rows vs
    distinct images of the sparse pyramid run at its native level
    only.  The oracle reproduces the dedup structurally: a burned
    tile's 262KB canvas is fully determined by its lit-pixel set
    {(ppx, ppy, alpha)}, so canvas-MD5 equality == equality of the
    ordered (ppx, ppy, alpha) list, which SQL computes by hashing
    string_agg(.. ORDER BY ppx, ppy) per tile (see oracle_sql)."""
    images, map_df = _burn_pyramid(spark, PYRAMID_N, BURN_Z)
    return spark.createDataFrame(
        [(map_df.count(), images.count())],
        "n_map bigint, n_images bigint")


def _q_olap_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General OLAP parity (Q1-shaped agg): the engine is a full
    DataFrame engine, not only a tiler."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # exact decimal accumulation (order-independent), cast back to
    # double so both engines emit the identical IEEE value
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(qty).cast("double").alias("sum_qty"),
                 F.sum(price).cast("double").alias("sum_base_price"),
                 F.sum(price * (F.lit(1).cast("decimal(18,4)") - disc))
                 .cast("double").alias("sum_disc_price"),
                 F.sum(disc).cast("double").alias("sum_disc"),
                 F.count("*").alias("count_order")))


def _q_olap_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped broadcast join: revenue per order for urgent orders."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (li.join(F.broadcast(urgent),
                    li["l_orderkey"] == urgent["o_orderkey"])
            .groupBy("l_orderkey")
            .agg(F.sum(price * (F.lit(1).cast("decimal(18,4)") - disc))
                 .cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


RECALL_FLOOR = 0.6


def _q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 scale path with a driver-verified signal: Spark measures
    recall@k of the approximate ann_topk_lsh against the exact top-k;
    the oracle recomputes the exact side in DuckDB and asserts the
    recall floor as a literal TRUE — the hash match therefore checks
    BOTH exact-side parity and that measured recall >= 0.6 (an LSH
    regression flips recall_ok to false and reddens the gate row)."""
    emb = _emb(spark, sf_dir)
    exact = _sim.ann_topk_exact(emb).select("query_id", "vec_id")
    lsh = _sim.ann_topk_lsh(emb).select("query_id", "vec_id")
    n_exact = exact.count()
    n_hit = exact.join(lsh, ["query_id", "vec_id"]).count()
    return spark.createDataFrame(
        [(n_exact, bool(n_hit >= RECALL_FLOOR * n_exact))],
        "n_exact bigint, recall_ok boolean")


def _q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same driver-verified recall contract for the IVF scale path
    (coarse spherical-k-means quantizer + nprobe cluster probing,
    operators/similarity.py::ann_topk_ivf): DuckDB recomputes the
    exact side and pins the floor as a literal TRUE; a quantizer or
    probe regression flips recall_ok and reddens the row."""
    emb = _emb(spark, sf_dir)
    exact = _sim.ann_topk_exact(emb).select("query_id", "vec_id")
    ivf = _sim.ann_topk_ivf(emb).select("query_id", "vec_id")
    n_exact = exact.count()
    n_hit = exact.join(ivf, ["query_id", "vec_id"]).count()
    return spark.createDataFrame(
        [(n_exact, bool(n_hit >= RECALL_FLOOR * n_exact))],
        "n_exact bigint, recall_ok boolean")


def _q_embedding_neardup_lsh_recall(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Same driver-verified recall contract for the LSH-bucketed
    near-dup pairs vs the exact blocked pairs at tau=0.3."""
    emb = _emb(spark, sf_dir)
    exact = (_sim.embedding_neardup_pairs(emb, tau=0.3)
             .select("vec_a", "vec_b"))
    lsh = (_sim.embedding_neardup_lsh(emb, tau=0.3)
           .select("vec_a", "vec_b"))
    n_exact = exact.count()
    n_hit = exact.join(lsh, ["vec_a", "vec_b"]).count()
    return spark.createDataFrame(
        [(n_exact, bool(n_hit >= RECALL_FLOOR * n_exact))],
        "n_exact bigint, recall_ok boolean")


def _q_utm_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/warp family: foreign-SRS (UTM, EPSG:32631) reprojection.
    The Spark-side distributed inverse-mapping warp
    (operators/reproject.py) must be pixel-identical to the shared
    single-machine numpy oracle (_warp_gate; projection_for_epsg's
    UTM forward is bit-identical to the round-4 tm_forward call this
    gate originally inlined).  DuckDB cannot evaluate the
    transverse-Mercator series, so — like the LSH recall rows — the
    SQL oracle pins the deterministic tile count and the
    driver-verified exactness flag; any regression in the projection
    math, the cover join, or the block assembly flips warp_exact_ok
    and reddens the row."""
    return _warp_gate(spark, 32631, 700, 600,
                      (400000.0, 100.0, 0.0, 5500000.0, 0.0, -100.0))


def _warp_gate(spark: SparkSession, epsg: int, W: int, H: int,
               GT: tuple) -> DataFrame:
    """Shared driver oracle for the foreign-SRS warp gates: run the
    distributed inverse-mapping warp on a deterministic gradient
    source, then recompute EVERY output tile with an independent
    single-machine numpy nearest-neighbour warp (mercator tile centre
    -> proj.forward -> source pixel) and compare pixel-exact — the
    same contract as _q_utm_warp, parameterized over the projection
    engine's EPSG registry."""
    import math as _m

    import numpy as np

    from gdal2mbtiles_spark.cells import MAX_MERCATOR_LAT
    from gdal2mbtiles_spark.operators.reproject import \
        reproject_to_tiles
    from gdal2mbtiles_spark.operators.resample import blocks_from_array
    from gdal2mbtiles_spark.proj import projection_for_epsg

    proj = projection_for_epsg(epsg)
    gx, gy = np.meshgrid(np.arange(W), np.arange(H))
    img = np.zeros((H, W, 4), np.uint8)
    img[..., 0] = gx % 256
    img[..., 1] = gy % 256
    img[..., 2] = (gx // 7 + gy // 11) % 256
    img[..., 3] = 255

    rows = reproject_to_tiles(
        spark, blocks_from_array(spark, img), GT, W, H, epsg,
        interpolate="near").collect()
    ok = len(rows) > 0
    for r in rows:
        z = int(r["z"])
        n = 1 << z
        got = np.frombuffer(bytes(r["px"]), np.uint8).reshape(
            256, 256, 4)
        px = int(r["x"]) + (np.arange(256) + 0.5) / 256
        py = (n - 1 - int(r["y"])) + (np.arange(256) + 0.5) / 256
        mx, my = np.meshgrid(px, py)
        lon = mx / n * 360.0 - 180.0
        lat = np.degrees(np.arctan(np.sinh(
            _m.pi * (1.0 - 2.0 * my / n))))
        e, nn = proj.forward(
            lon.ravel(),
            np.clip(lat, -MAX_MERCATOR_LAT, MAX_MERCATOR_LAT).ravel())
        u = (e - GT[0]) / GT[1] - 0.5
        v = (GT[3] - nn) / (-GT[5]) - 0.5
        want = np.zeros((256 * 256, 4), np.uint8)
        inside = ((u >= -0.5) & (u <= W - 0.5)
                  & (v >= -0.5) & (v <= H - 0.5))
        iu = np.clip(np.rint(u).astype(int), 0, W - 1)
        iv = np.clip(np.rint(v).astype(int), 0, H - 1)
        want[inside] = img[iv[inside], iu[inside]]
        if not np.array_equal(got, want.reshape(256, 256, 4)):
            ok = False
            break
    return spark.createDataFrame([(len(rows), bool(ok))],
                                 "n_tiles bigint, warp_exact_ok boolean")


def _q_lcc_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/warp family: Lambert-conformal-conic (EPSG:2154) foreign-SRS
    reprojection — same pixel-identity contract as utm_warp, driving
    the round-5 generalized projection engine (proj.py Snyder LCC
    closed forms + scanline target-key cover).  DuckDB cannot
    evaluate the LCC forms, so the SQL oracle pins the deterministic
    tile count and the driver-verified exactness flag."""
    return _warp_gate(spark, 2154, 700, 600,
                      (900000.0, 100.0, 0.0, 6800000.0, 0.0, -100.0))


def _q_polar_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/warp family: polar-stereographic (EPSG:3413) foreign-SRS
    reprojection of a POLE-ENCLOSING source — same pixel-identity
    contract as utm_warp/lcc_warp, driving the round-5 polar path
    (PolarStereographic variant B + the full-width target-key branch
    the wrapped boundary ring requires).  DuckDB cannot evaluate the
    stereographic forms, so the SQL oracle pins the deterministic
    tile count and the driver-verified exactness flag."""
    return _warp_gate(spark, 3413, 480, 480,
                      (-600_000.0, 2500.0, 0.0, 600_000.0, 0.0,
                       -2500.0))


def _q_albers_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/warp family: Albers equal-area conic (EPSG:5070, Conus —
    USGS NLCD/NED grids) foreign-SRS reprojection — the NON-conformal
    member of the round-5 projection set (Newton inverse on the
    authalic relation), same pixel-identity contract as the other
    warp gates.  DuckDB cannot evaluate the Albers forms, so the SQL
    oracle pins the deterministic tile count and the driver-verified
    exactness flag."""
    return _warp_gate(spark, 5070, 500, 500,
                      (-1_000_000.0, 2000.0, 0.0, 2_600_000.0, 0.0,
                       -2000.0))


def _q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: point-in-polygon join — polygon covers joined on cell,
    vertices attached per candidate, one vectorized ray-cast refine."""
    pages = with_geo(synth_pages(spark, PAGES_N))
    polys = polygons_df(spark, 50)
    return point_in_polygon_join(pages, polys)


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: exact kNN via per-query cell rings sized from per-cell
    counts, one join on cell and a window top-k per query."""
    pages = with_geo(synth_pages(spark, KNN_N))
    queries_df = query_points_df(spark, KNN_Q)
    return (knn_join(pages, queries_df, res=5)
            .select("query_id", "rank", "url", "settled"))


def _q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: raster->vector extract — stats of the burned native level's
    lit pixels under polygons, a point-in-polygon join of the pixel
    centres."""
    pages = with_geo(synth_pages(spark, PYRAMID_N))
    polys = polygons_df(spark, 20)
    return extract_poly_stats(pixel_histogram(pages, BURN_Z), polys,
                              BURN_Z)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # dedup family (documents table)
        "exact_dedup": lambda s, d: _dedup.exact_dedup(
            _docs(s, d).union(_docs(s, d))),
        "minhash_lsh_pairs": lambda s, d: _dedup.minhash_lsh_pairs(
            _docs(s, d)),
        "simhash_encode": lambda s, d: _dedup.simhash(_docs(s, d)),
        "simhash_pairs": lambda s, d: _dedup.simhash_pairs(_docs(s, d)),
        "ngram_jaccard_pairs": lambda s, d: _dedup.ngram_jaccard_pairs(
            _docs(s, d)),
        "lsh_jaccard_verify": lambda s, d: _dedup.lsh_jaccard_verify(
            _docs(s, d)),
        # similarity search (embeddings table)
        "ann_topk": lambda s, d: _sim.ann_topk_exact(_emb(s, d)),
        "embedding_neardup": lambda s, d: _sim.embedding_neardup_pairs(
            _emb(s, d), tau=0.3),
        "embedding_neardup_lsh": _q_embedding_neardup_lsh_recall,
        "ann_topk_lsh": _q_ann_lsh_recall,
        "ann_topk_ivf": _q_ann_ivf_recall,
        # text analysis (documents table)
        "token_counts": lambda s, d: _text.token_counts(_docs(s, d)),
        "lang_id": lambda s, d: _text.lang_id(_docs(s, d)),
        "quality_score": lambda s, d: _text.quality_score(_docs(s, d)),
        "doc_fingerprints": lambda s, d: _text.fingerprints(_docs(s, d)),
        # general OLAP parity
        "olap_pricing_summary": _q_olap_pricing,
        "olap_top_revenue": _q_olap_top_revenue,
        # tiling + spatial
        "utm_warp": _q_utm_warp,
        "lcc_warp": _q_lcc_warp,
        "polar_warp": _q_polar_warp,
        "albers_warp": _q_albers_warp,
        "pip_join": _q_pip_join,
        "knn_join": _q_knn,
        "extract_poly_stats": _q_extract,
        "geocode_points": _q_geocode,
        "tile_assignment": _q_tile_assignment,
        "cell_encode": _q_cell_encode,
        "lang_distribution": _q_lang_distribution,
        "text_invariant": _q_text_invariant,
        "pyramid_tile_counts": _q_pyramid_tile_counts,
        "tile_dedup_counts": _q_tile_dedup,
    }


def _pages_cte(n: int = PAGES_N) -> str:
    return f"pages AS ({pages_sql(n)})"


def _geo_cte(n: int = PAGES_N, z: int = 7) -> str:
    lon, lat = geo_lon_sql("url"), geo_lat_sql("url")
    return f"""{_pages_cte(n)},
    geo AS (
      SELECT url, {lon} AS lon, {lat} AS lat,
             {tile_x_sql(lon, z)} AS x,
             {tile_y_tms_sql(lat, z)} AS y,
             {cell_id_sql(lon, lat, DEFAULT_RES)} AS cell
      FROM pages
    )"""


def oracle_sql() -> dict[str, str]:
    burn_lon, burn_lat = geo_lon_sql("url"), geo_lat_sql("url")
    # native-z burned tile keys for the pyramid oracle
    bx = tile_x_sql(burn_lon, BURN_Z)
    by = tile_y_tms_sql(burn_lat, BURN_Z)
    levels_sql = "\nUNION ALL\n".join(
        f"SELECT {z} AS z, count(*) AS n_tiles FROM "
        f"(SELECT DISTINCT x // {1 << (BURN_Z - z)} AS px, "
        f"y // {1 << (BURN_Z - z)} AS py FROM native)"
        for z in range(BURN_Z + 1))
    return {
        "exact_dedup": _dedup.exact_dedup_sql(
            "(SELECT * FROM documents UNION ALL "
            "SELECT * FROM documents)"),
        "minhash_lsh_pairs": _dedup.minhash_lsh_pairs_sql(),
        "simhash_encode": _dedup.simhash_sql(),
        "simhash_pairs": _dedup.simhash_pairs_sql(),
        "ngram_jaccard_pairs": _dedup.ngram_jaccard_pairs_sql(),
        "lsh_jaccard_verify": _dedup.lsh_jaccard_verify_sql(),
        "ann_topk": _sim.ann_topk_exact_sql(),
        "embedding_neardup": _sim.embedding_neardup_pairs_sql(tau=0.3),
        # approximate-by-design LSH ops: the gate row is a recall
        # check — DuckDB recomputes the EXACT side; recall_ok is the
        # literal floor assertion the Spark side must have met
        "ann_topk_lsh": f"""
            WITH exact AS ({_sim.ann_topk_exact_sql()})
            SELECT count(*)::BIGINT AS n_exact, TRUE AS recall_ok
            FROM exact""",
        "ann_topk_ivf": f"""
            WITH exact AS ({_sim.ann_topk_exact_sql()})
            SELECT count(*)::BIGINT AS n_exact, TRUE AS recall_ok
            FROM exact""",
        "embedding_neardup_lsh": f"""
            WITH exact AS ({_sim.embedding_neardup_pairs_sql(tau=0.3)})
            SELECT count(*)::BIGINT AS n_exact, TRUE AS recall_ok
            FROM exact""",
        "token_counts": _text.token_counts_sql(),
        "lang_id": _text.lang_id_sql(),
        "quality_score": _text.quality_score_sql(),
        "doc_fingerprints": _text.fingerprints_sql(),
        "olap_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
                        AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                        AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST(l_discount AS DECIMAL(18,4)))
                        AS DOUBLE) AS sum_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "olap_top_revenue": """
            SELECT l_orderkey,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY l_orderkey""",
        "geocode_points": f"""
            WITH {_pages_cte()}
            SELECT url, {geo_lon_sql('url')} AS lon,
                   {geo_lat_sql('url')} AS lat
            FROM pages""",
        "tile_assignment": f"""
            WITH {_geo_cte(z=7)}
            SELECT 7 AS z, x, y, count(*) AS n_pages
            FROM geo GROUP BY x, y""",
        "cell_encode": f"""
            WITH {_geo_cte()}
            SELECT cell, count(*) AS n_pages FROM geo GROUP BY cell""",
        "lang_distribution": f"""
            WITH {_pages_cte()}
            SELECT lang, count(*) AS n_pages FROM pages GROUP BY lang""",
        "text_invariant": f"""
            WITH {_pages_cte()}
            SELECT url, md5(text) AS text_md5,
                   length(text)::BIGINT AS text_len
            FROM pages""",
        # DuckDB cannot run the transverse-Mercator series; the Spark
        # query verifies pixel-exactness against its own independent
        # numpy oracle and this row pins the deterministic outputs
        # (same contract as the LSH recall gate rows)
        "utm_warp": """
            SELECT CAST(16 AS BIGINT) AS n_tiles,
                   TRUE AS warp_exact_ok""",
        # same contract for the LCC family (DuckDB cannot run the
        # Snyder closed forms either); tile count pinned below
        "lcc_warp": """
            SELECT CAST(12 AS BIGINT) AS n_tiles,
                   TRUE AS warp_exact_ok""",
        # same contract for the polar family: pole-enclosing 3413
        # source, 8 z3 tiles (the full top mercator row)
        "polar_warp": """
            SELECT CAST(8 AS BIGINT) AS n_tiles,
                   TRUE AS warp_exact_ok""",
        # same contract for the equal-area family (Albers 5070,
        # Conus): 9 tiles over the 1000x1000 km central-US source
        "albers_warp": """
            SELECT CAST(9 AS BIGINT) AS n_tiles,
                   TRUE AS warp_exact_ok""",
        "pip_join": f"""
            WITH {_geo_cte()},
            edges AS ({polygon_edges_sql(50)})
            SELECT g.url, e.poly_id
            FROM geo g JOIN edges e
              ON ((e.y1 > g.lat) != (e.y2 > g.lat))
             AND (g.lon < (e.x2 - e.x1) * (g.lat - e.y1)
                          / (e.y2 - e.y1) + e.x1)
            GROUP BY g.url, e.poly_id
            HAVING count(*) % 2 = 1""",
        "knn_join": f"""
            WITH {_pages_cte(KNN_N)},
            geo AS (SELECT url, {geo_lon_sql('url')} AS lon,
                           {geo_lat_sql('url')} AS lat FROM pages),
            q AS ({query_points_sql(KNN_Q)}),
            d AS (SELECT q.query_id, q.k, g.url,
                         {haversine_sql('q.lon', 'q.lat',
                                        'g.lon', 'g.lat')} AS dist
                  FROM q CROSS JOIN geo g),
            r AS (SELECT query_id, k, url,
                         row_number() OVER (PARTITION BY query_id
                             ORDER BY dist, url) AS rank
                  FROM d)
            SELECT query_id, rank::INT AS rank, url,
                   TRUE AS settled
            FROM r WHERE rank <= k""",
        "extract_poly_stats": f"""
            WITH {_pages_cte(PYRAMID_N)},
            geo AS (SELECT url, {geo_lon_sql('url')} AS lon,
                           {geo_lat_sql('url')} AS lat FROM pages),
            frac AS (
              SELECT (lon + 180.0) / 360.0 * {float(1 << BURN_Z)!r} AS fx,
                     (1.0 - ln(tan(radians(least(greatest(lat,
                        -85.05112877980659), 85.05112877980659)))
                        + 1.0 / cos(radians(least(greatest(lat,
                        -85.05112877980659), 85.05112877980659))))
                        / pi()) / 2.0 * {float(1 << BURN_Z)!r} AS fy
              FROM geo),
            keyed AS (
              SELECT least(greatest(floor(fx), 0),
                           {(1 << BURN_Z) - 1})::BIGINT AS tx,
                     least(greatest(floor(fy), 0),
                           {(1 << BURN_Z) - 1})::BIGINT AS ty, fx, fy
              FROM frac),
            hist AS (
              SELECT tx, ty,
                     least(greatest(floor((fx - tx) * 256), 0),
                           255)::INT AS ppx,
                     least(greatest(floor((fy - ty) * 256), 0),
                           255)::INT AS ppy,
                     count(*)::DOUBLE AS w
              FROM keyed GROUP BY 1, 2, 3, 4),
            pix AS (
              SELECT ((tx + (ppx + 0.5) / 256.0)
                      / {float(1 << BURN_Z)!r}) * 360.0 - 180.0 AS lon,
                     degrees(atan((exp(pi() * (1.0 - 2.0
                      * ((ty + (ppy + 0.5) / 256.0)
                         / {float(1 << BURN_Z)!r}))) - exp(-(pi()
                      * (1.0 - 2.0 * ((ty + (ppy + 0.5) / 256.0)
                         / {float(1 << BURN_Z)!r}))))) / 2.0)) AS lat,
                     greatest(least(255, floor(32.0 * log2(1.0 + w))),
                              1)::BIGINT AS alpha
              FROM hist),
            edges AS ({polygon_edges_sql(20)}),
            hits AS (
              SELECT p.lon, p.lat, p.alpha, e.poly_id
              FROM pix p JOIN edges e
                ON ((e.y1 > p.lat) != (e.y2 > p.lat))
               AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1)
                            / (e.y2 - e.y1) + e.x1)
              GROUP BY p.lon, p.lat, p.alpha, e.poly_id
              HAVING count(*) % 2 = 1)
            SELECT poly_id, count(*)::BIGINT AS lit_pixels,
                   sum(alpha)::BIGINT AS alpha_sum
            FROM hits GROUP BY poly_id""",
        "pyramid_tile_counts": f"""
            WITH {_pages_cte(PYRAMID_N)},
            native AS (
              SELECT DISTINCT {bx} AS x, {by} AS y FROM pages
            )
            {levels_sql}""",
        # A1/J2 structural oracle: per-tile hash of the ordered lit-
        # pixel list == buffer MD5 identity (burn paints exactly those
        # pixels into an otherwise-zero canvas)
        "tile_dedup_counts": f"""
            WITH {_pages_cte(PYRAMID_N)},
            geo AS (SELECT url, {burn_lon} AS lon,
                           {burn_lat} AS lat FROM pages),
            frac AS (
              SELECT (lon + 180.0) / 360.0 * {float(1 << BURN_Z)!r} AS fx,
                     (1.0 - ln(tan(radians(least(greatest(lat,
                        -85.05112877980659), 85.05112877980659)))
                        + 1.0 / cos(radians(least(greatest(lat,
                        -85.05112877980659), 85.05112877980659))))
                        / pi()) / 2.0 * {float(1 << BURN_Z)!r} AS fy
              FROM geo),
            keyed AS (
              SELECT least(greatest(floor(fx), 0),
                           {(1 << BURN_Z) - 1})::BIGINT AS tx,
                     least(greatest(floor(fy), 0),
                           {(1 << BURN_Z) - 1})::BIGINT AS ty, fx, fy
              FROM frac),
            hist AS (
              SELECT tx, {(1 << BURN_Z) - 1} - ty AS ty_tms,
                     least(greatest(floor((fx - tx) * 256), 0),
                           255)::INT AS ppx,
                     least(greatest(floor((fy - ty) * 256), 0),
                           255)::INT AS ppy,
                     count(*)::DOUBLE AS w
              FROM keyed GROUP BY 1, 2, 3, 4),
            tile_hash AS (
              SELECT tx, ty_tms,
                     md5(string_agg(
                         ppx || ',' || ppy || ',' ||
                         greatest(least(255, floor(32.0 * log2(1.0 + w))),
                                  1)::BIGINT,
                         ';' ORDER BY ppx, ppy)) AS h
              FROM hist GROUP BY tx, ty_tms)
            SELECT count(*)::BIGINT AS n_map,
                   count(DISTINCT h)::BIGINT AS n_images
            FROM tile_hash""",
    }
