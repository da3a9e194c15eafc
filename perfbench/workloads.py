"""The benchmark workloads.

Each workload has the same shape:

- ``setup(rep)`` generates and writes its inputs (run several times;
  the last one is kept);
- ``job()`` is one timed, closed-loop unit of work: every library call
  runs under a ``Spans`` span whose name becomes the Spark job
  description ``<workload>/<span>@<iteration>``;
- ``checks(expected)`` yields ``(name, ok)`` output checks, run after
  the timed loop on the last job's outputs;
- ``diagnostics(expected)`` runs, in the traced run only, the probes
  the timed job must not pay for (planning stats, a separate scan,
  materialized burn histogram, PIP candidates) and returns their output
  checks.  The pyramid workloads also run one pass of the queries here,
  over their own pages table, so every library module is measured in
  every traced run;
- ``layer_metrics(log, iteration)`` turns spans and the parsed event
  log into the per-layer metrics of the modules the run called;
- ``observed()`` gives the values recorded in ``expected.json`` at the
  default seed.

The library only ever receives the generated tables (``inputs.py``).
"""

from __future__ import annotations

import os
import sqlite3
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from gdal2mbtiles_spark.functions import text as T
from gdal2mbtiles_spark.functions.hashing import tile_id_of_bytes
from gdal2mbtiles_spark.lineage import compute_lineage
from gdal2mbtiles_spark.mbtiles import MBTilesFile, write_mbtiles
from gdal2mbtiles_spark.operators.burn import pixel_histogram
from gdal2mbtiles_spark.operators.dedup import (exact_dedup,
                                                minhash_lsh_pairs,
                                                simhash_pairs)
from gdal2mbtiles_spark.operators.similarity import (ann_topk_ivf,
                                                     ann_topk_matmul)
from gdal2mbtiles_spark.operators.sparse import sparse_pyramid_rendered
from gdal2mbtiles_spark.operators.spatial import (knn_bruteforce, knn_join,
                                                  point_in_polygon_join,
                                                  ray_cast_contains)
from gdal2mbtiles_spark.renderers import PngRenderer, decode_png_rgba
from gdal2mbtiles_spark.sources.iceberg import read_table
from gdal2mbtiles_spark.sources.pages import with_geo
from gdal2mbtiles_spark.sources.pages_table import (load_pages,
                                                    write_iceberg_pages)

import inputs

# Workload sizes.  "full" is what the benchmark measures; "tiny" keeps
# the smoke run (suite.py --tiny) to seconds per workload.
#
# pyramid: z6 has 4,096 tiles, so 100k pages put ~24 pages on every
# tile and almost no two tiles share content (dense burn).
# pyramid_sparse: one level at z28.  At that zoom the geocode's 32-bit
# lon/lat steps are coarser than a pixel, so a lit pixel can sit at
# only 16 x 256 = 4,096 offsets in its tile; 20k one-pixel tiles then
# repeat each other's content most of the time (dup_share ~0.8).
# queries: also the sizes of the queries pass in a traced pyramid run,
# which reads the pyramid's pages table instead of writing its own.
SIZES = {
    "pyramid": {
        "full": {"pages": 100_000, "z": 6, "min_res": 0},
        "tiny": {"pages": 3_000, "z": 4, "min_res": 0},
    },
    "pyramid_sparse": {
        "full": {"pages": 20_000, "z": 28, "min_res": 28},
        "tiny": {"pages": 2_000, "z": 28, "min_res": 28},
    },
    "queries": {
        "full": {"pages": 100_000, "polygons": 50, "knn_queries": 200,
                 "docs": 2_000, "embeddings": 2_000},
        "tiny": {"pages": 5_000, "polygons": 10, "knn_queries": 30,
                 "docs": 300, "embeddings": 300},
    },
}

KNN_LANG = "de"          # the lang-pruned Iceberg read feeding knn_join
PNG_SAMPLE = 24          # decoded and re-hashed tiles per check
PIP_SAMPLE_MOD = 16      # 1 in 16 points is classified on the driver
KNN_CHECK_QUERIES = 20   # queries re-answered by knn_bruteforce
# IVF (nprobe 4 of 16 lists) against exact matmul top-10 on the
# generated embeddings: 1.0 at the default seed
IVF_RECALL_FLOOR = 0.8
MBTILES_META = {"name": "perfbench", "type": "overlay", "version": "1.0.0",
                "description": "benchmark pyramid", "format": "png"}

# event-log aggregates reported under the sparse_pyramid_rendered span
SPARSE_TASK_METRICS = (
    "python_worker_s", "jvm_cpu_s", "gc_s", "bytes_to_python",
    "bytes_from_python", "shuffle_write_bytes", "spill_bytes", "tasks",
    "task_s_p50", "task_s_p95", "task_s_max")

# the spans of one queries pass, each reported as <span>_s
QUERY_SPANS = (
    "operators.spatial.pip_join", "operators.spatial.knn_join",
    "operators.dedup.exact_dedup", "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.simhash_pairs",
    "operators.similarity.ann_topk_matmul",
    "operators.similarity.ann_topk_ivf",
    "functions.text.quality_score", "functions.text.lang_id",
    "functions.text.token_counts")


class Spans:
    """Driver-side spans around library calls.

    A span sets the Spark job description to
    ``<workload>/<name>@<iteration>`` for every job it starts, so the
    event log can be grouped by span, and records its wall time."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.iteration = "setup"
        self.records = []

    def description(self, name: str, iteration) -> str:
        return f"{self.workload}/{name}@{iteration}"

    @contextmanager
    def __call__(self, name: str):
        self.sc.setJobDescription(self.description(name, self.iteration))
        t0 = time.time()
        try:
            yield
        finally:
            self.records.append({"name": name, "iteration": self.iteration,
                                 "t0": t0, "t1": time.time()})
            self.sc.setJobDescription(None)

    def wall(self, name: str, iteration) -> float:
        return sum(r["t1"] - r["t0"] for r in self.records
                   if r["name"] == name and r["iteration"] == iteration)


def fingerprint(df) -> int:
    """Order-insensitive fingerprint: the xxhash64-sum mod 2^62 of
    ``lineage.compute_lineage``, folded over partitions."""
    return sum(r["checksum"] for r in
               compute_lineage(df, "fp").collect()) % 2 ** 62


def _expected_checks(observed: dict, expected: dict, prefix: str = ""):
    """One check per value recorded for the default seed; nested blocks
    (another part of the run) are checked by that part."""
    for key, want in expected.items():
        if not isinstance(want, dict):
            yield f"{prefix}expected_{key}", observed.get(key) == want


class _Workload:
    name = ""

    def __init__(self, spark, data_dir: str, seed: int, size: str,
                 spans: Spans):
        self.spark = spark
        self.data = data_dir
        self.seed = seed
        self.size_name = size
        self.size = SIZES[self.name][size]
        self.spans = spans
        self.table = None
        self.write_s = []
        self.diag = {}

    def _write_pages(self, rep: int) -> None:
        path = os.path.join(self.data, f"pages_{rep}")
        t0 = time.time()
        write_iceberg_pages(
            inputs.pages_df(self.spark, self.size["pages"], self.seed), path)
        self.write_s.append(time.time() - t0)
        self.table = path

    def _iceberg_probe(self) -> None:
        """Planning stats of the lang-pruned read that feeds knn_join, and
        one full scan of the column the pyramid reads."""
        sp = self.spans
        with sp("sources.iceberg.plan"):
            _, stats = read_table(self.spark, self.table, columns=["url"],
                                  filters={"lang": KNN_LANG},
                                  with_stats=True)
        with sp("sources.iceberg.scan"):
            load_pages(self.spark, self.table, columns=["url"]).select(
                F.sum(F.length("url"))).first()
        self.diag.update({
            "sources.iceberg.manifests_opened": stats.manifests_opened,
            "sources.iceberg.manifests_total": stats.manifests_total,
            "sources.iceberg.files_planned": stats.files_planned,
            "sources.iceberg.files_total": stats.files_total,
        })


class Pyramid(_Workload):
    """Pages -> burn histogram -> sparse pyramid -> MBTiles file."""

    name = "pyramid"
    queries = None

    def setup(self, rep: int) -> None:
        self._write_pages(rep)

    def job(self) -> dict:
        sp, z = self.spans, self.size["z"]
        with sp("sources.iceberg.load_pages"):
            pages = load_pages(self.spark, self.table, columns=["url"])
        with sp("operators.burn.pixel_histogram"):
            hist = pixel_histogram(with_geo(pages, tile_z=z), z=z)
        with sp("operators.sparse.pyramid"):
            images, map_df = sparse_pyramid_rendered(
                self.spark, hist, z, PngRenderer(compression=1),
                min_resolution=self.size["min_res"])
        with sp("operators.sparse.map_count"):
            n_map = map_df.count()
        with sp("operators.sparse.images_agg"):
            n_img, png_bytes = images.select(
                F.count("*"), F.sum(F.length("tile_data"))).first()
        self.mbtiles = os.path.join(self.data, "out.mbtiles")
        with sp("mbtiles.write"):
            write_mbtiles(self.mbtiles, images, map_df, MBTILES_META).close()
        self.images, self.map_df = images, map_df
        self.counts = {"map_rows": n_map, "distinct_images": n_img,
                       "dup_share": 1.0 - n_img / n_map,
                       "png_bytes": int(png_bytes or 0)}
        return dict(self.counts)

    def checks(self, expected: dict):
        """Read the .mbtiles file back and tie it to the DataFrame counts:
        ``images.tile_id`` is the file's primary key, so equal image
        counts mean the DataFrame's tile_ids were distinct, and every
        map row joins an image in the ``tiles`` view."""
        c = self.counts
        with MBTilesFile(self.mbtiles) as f:
            tiles = sum(1 for _ in f.all())
        db = sqlite3.connect(self.mbtiles)
        try:
            n_img, = db.execute("SELECT count(*) FROM images").fetchone()
            n_map, = db.execute("SELECT count(*) FROM map").fetchone()
            sample = db.execute(
                "SELECT tile_id, tile_data FROM images ORDER BY tile_id "
                "LIMIT ?", (PNG_SAMPLE,)).fetchall()
        finally:
            db.close()
        self.file_counts = {"images": n_img, "map": n_map}
        yield "mbtiles_map_rows_match", n_map == c["map_rows"]
        yield "images_tile_id_distinct", n_img == c["distinct_images"]
        yield "map_tile_ids_in_images", tiles == n_map
        yield "png_decodes_to_tile_id", bool(sample) and all(
            tile_id_of_bytes(decode_png_rgba(data).tobytes()) == tid
            for tid, data in sample)
        if expected:
            yield from _expected_checks(self.observed(), expected)

    def observed(self) -> dict:
        out = dict(self.counts, map_fingerprint=fingerprint(self.map_df),
                   images_fingerprint=fingerprint(self.images))
        if self.queries is not None:
            out["queries"] = self.queries.observed()
        return out

    def diagnostics(self, expected: dict) -> list:
        sp, z = self.spans, self.size["z"]
        sp.iteration = "diag"
        self._iceberg_probe()
        with sp("operators.burn.pixel_histogram_count"):
            lit = pixel_histogram(with_geo(load_pages(
                self.spark, self.table, columns=["url"]), tile_z=z),
                z=z).count()
        self.diag.update({
            "operators.burn.lit_pixels": lit,
            "mbtiles.images_written": self.file_counts["images"],
            "mbtiles.map_rows_written": self.file_counts["map"],
            "mbtiles.file_bytes": os.path.getsize(self.mbtiles),
        })
        # one pass of the queries over this workload's pages table
        q = self.queries = Queries(self.spark, self.data, self.seed,
                                   self.size_name, sp)
        q.table = self.table
        q.load_inputs(0)
        sp.iteration = "queries"
        q.job()
        checks = list(q.checks(expected.get("queries", {}), "queries_"))
        sp.iteration = "diag"
        q.pass_diagnostics()
        self.diag.update(q.diag)
        return checks

    def layer_metrics(self, log, it) -> dict:
        sp = self.spans
        m = dict(self.diag)
        m["operators.burn.pixel_histogram_s"] = sp.wall(
            "operators.burn.pixel_histogram_count", "diag")
        for step in ("pyramid", "map_count", "images_agg"):
            m[f"operators.sparse.{step}_s"] = sp.wall(
                f"operators.sparse.{step}", it)
        r = log.span(sp.description("operators.sparse.pyramid", it))
        for k in SPARSE_TASK_METRICS:
            m[f"operators.sparse.{k}"] = r[k]
        m.update({f"operators.sparse.{k}": v for k, v in self.counts.items()})
        m["mbtiles.write_s"] = sp.wall("mbtiles.write", it)
        m.update(self.queries.layer_metrics(log, "queries"))
        return m


class PyramidSparse(Pyramid):
    """The pyramid job on one-pixel tiles that mostly repeat content."""

    name = "pyramid_sparse"


class Queries(_Workload):
    """One pass of the spatial, dedup, similarity and text queries."""

    name = "queries"
    docs = emb = None

    def setup(self, rep: int) -> None:
        self._write_pages(rep)
        self.load_inputs(rep)

    def load_inputs(self, rep: int) -> None:
        """Documents, embeddings, polygons and kNN query points, plus the
        geocoded points over ``self.table``."""
        s, spark = self.size, self.spark
        for old in (self.docs, self.emb):
            if old is not None:
                old.unpersist()
        parts = 2 * spark.sparkContext.defaultParallelism
        loaded = []
        for kind, pdf in (
                ("docs", inputs.documents(self.seed, s["docs"])),
                ("emb", inputs.embeddings(self.seed, s["embeddings"]))):
            path = os.path.join(self.data, f"{kind}_{rep}.parquet")
            pdf.to_parquet(path, index=False)
            df = spark.read.parquet(path).repartition(parts).persist()
            df.count()
            loaded.append(df)
        self.docs, self.emb = loaded
        self.poly_list = inputs.polygons(self.seed, s["polygons"])
        self.polys = inputs.polygons_df(spark, self.poly_list)
        self.query_pts = inputs.query_points_df(spark, self.seed,
                                                s["knn_queries"])
        self.points = with_geo(load_pages(spark, self.table,
                                          columns=["url"]))

    def _knn_points(self):
        return with_geo(load_pages(self.spark, self.table, columns=["url"],
                                   lang=KNN_LANG))

    def job(self) -> dict:
        sp, c = self.spans, {}
        with sp("operators.spatial.pip_join"):
            self.pip = point_in_polygon_join(self.points, self.polys)
            c["pip_rows"] = self.pip.count()
        with sp("sources.iceberg.load_pages"):
            knn_points = self._knn_points()
        with sp("operators.spatial.knn_join"):
            self.knn = knn_join(knn_points, self.query_pts)
            c["knn_rows"] = self.knn.count()
        with sp("operators.dedup.exact_dedup"):
            c["exact_dedup_groups"] = exact_dedup(self.docs).count()
        with sp("operators.dedup.minhash_lsh_pairs"):
            c["minhash_pairs"] = minhash_lsh_pairs(self.docs).count()
        with sp("operators.dedup.simhash_pairs"):
            c["simhash_pairs"] = simhash_pairs(self.docs).count()
        with sp("operators.similarity.ann_topk_matmul"):
            self.ann_mm = ann_topk_matmul(self.emb)
            c["ann_matmul_rows"] = self.ann_mm.count()
        with sp("operators.similarity.ann_topk_ivf"):
            self.ann_ivf = ann_topk_ivf(self.emb)
            c["ann_ivf_rows"] = self.ann_ivf.count()
        for fn in (T.quality_score, T.lang_id, T.token_counts):
            with sp(f"functions.text.{fn.__name__}"):
                c[f"{fn.__name__}_rows"] = fn(self.docs).count()
        self.counts = c
        return dict(c)

    def ivf_recall(self) -> float:
        def topk(df):
            out = {}
            for r in df.select("query_id", "vec_id").collect():
                out.setdefault(r[0], set()).add(r[1])
            return out
        exact, ivf = topk(self.ann_mm), topk(self.ann_ivf)
        return float(np.mean([len(ivf.get(q, set()) & v) / len(v)
                              for q, v in exact.items()]))

    def checks(self, expected: dict, prefix: str = ""):
        # PIP: every sampled point classified against every polygon by
        # the reference ray cast, compared with the join's pairs
        on_sample = F.pmod(F.xxhash64("url"), F.lit(PIP_SAMPLE_MOD)) == 0
        pts = self.points.where(on_sample).select(
            "url", "lon", "lat").toPandas()
        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        want = set()
        for p, xs, ys in self.poly_list:
            inside = ray_cast_contains(lon, lat, np.asarray(xs),
                                       np.asarray(ys))
            want |= {(u, p) for u in pts["url"].to_numpy()[inside]}
        got = {(r[0], r[1]) for r in
               self.pip.where(on_sample).select("url", "poly_id").collect()}
        yield f"{prefix}pip_sample_matches_ray_cast", got == want

        subset = F.col("query_id") < KNN_CHECK_QUERIES
        ref = knn_bruteforce(self._knn_points(),
                             self.query_pts.where(subset))
        key = ["query_id", "rank", "url"]
        yield f"{prefix}knn_matches_bruteforce", (
            sorted(map(tuple, self.knn.where(subset).select(key).collect()))
            == sorted(map(tuple, ref.select(key).collect())))
        unsettled = self.knn.where(~F.col("settled")).count()
        yield f"{prefix}knn_all_settled", unsettled == 0
        self.recall = self.ivf_recall()
        yield f"{prefix}ivf_recall_at_floor", self.recall >= IVF_RECALL_FLOOR
        yield from _expected_checks(self.counts, expected, prefix)

    def observed(self) -> dict:
        return dict(self.counts)

    def diagnostics(self, expected: dict) -> list:
        self.spans.iteration = "diag"
        self._iceberg_probe()
        self.pass_diagnostics()
        return []

    def pass_diagnostics(self) -> None:
        """PIP candidates: the point-cell x polygon-cover join before the
        exact refine (the ``cells`` layer's work)."""
        with self.spans("operators.spatial.pip_candidates"):
            cand = self.points.select("cell").join(
                self.polys.select(F.explode("cells").alias("cell")),
                "cell").count()
        c = self.counts
        self.diag.update({
            "operators.spatial.pip_rows": c["pip_rows"],
            "operators.spatial.pip_candidates": cand,
            "operators.spatial.pip_useful_ratio":
                c["pip_rows"] / cand if cand else 0.0,
            "operators.spatial.knn_rows": c["knn_rows"],
            "operators.dedup.minhash_pairs": c["minhash_pairs"],
            "operators.dedup.simhash_pairs": c["simhash_pairs"],
            "operators.similarity.ivf_recall_at_10": self.recall,
        })

    def layer_metrics(self, log, it) -> dict:
        sp = self.spans
        m = dict(self.diag)
        for name in QUERY_SPANS:
            m[f"{name}_s"] = sp.wall(name, it)
        spatial = log.span([sp.description(n, it) for n in (
            "operators.spatial.pip_join", "operators.spatial.knn_join")])
        m["operators.spatial.python_worker_s"] = spatial["python_worker_s"]
        m["operators.spatial.knn_jobs"] = log.span(
            sp.description("operators.spatial.knn_join", it))["jobs"]
        dedup = log.span([sp.description(n, it) for n in QUERY_SPANS
                          if n.startswith("operators.dedup.")])
        for k in ("shuffle_write_bytes", "task_s_max", "task_s_p50"):
            m[f"operators.dedup.{k}"] = dedup[k]
        return m


WORKLOADS = {w.name: w for w in (Pyramid, PyramidSparse, Queries)}
