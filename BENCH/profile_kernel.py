"""Offline profiler for the sparse pyramid's two kernels (guide §1:
measure first).

Step 1 (spark): materialize the z10 heat pixels the bench's
pyramid_full feeds into the content passes, save to /tmp.
Step 2 (pure python): run the REAL kernels over one simulated task's
rows under cProfile, one after the other:

- the content kernel (sparse._phase_kernel): lexsort, content keys and
  the in-task 2x2 shrink, one phase of levels;
- the render kernel (sparse._render_kernel) over that phase's distinct
  contents, so the per-image cost decomposes into md5 / encode / paint
  / loop overhead without Spark in the way.

Usage:
    python BENCH/profile_kernel.py extract   # once (writes /tmp/px_z10.parquet)
    python BENCH/profile_kernel.py profile [npart] [part_idx]
"""
import cProfile
import io
import pstats
import sys
import time

import pandas as pd

Z = 10
OUT = "/tmp/px_z10.parquet"


def extract():
    from gdal2mbtiles_spark.session import get_spark
    from gdal2mbtiles_spark.operators.burn import pixel_histogram
    from gdal2mbtiles_spark.operators.sparse import heat_pixels
    from gdal2mbtiles_spark.sources.pages import synth_pages, with_geo

    spark = get_spark(cores=16, app="profile-extract")
    pages = with_geo(synth_pages(spark, 2_000_000), tile_z=Z)
    hist = pixel_histogram(pages, z=Z)
    px = heat_pixels(hist, Z)
    pdf = px.toPandas()
    pdf.to_parquet(OUT)
    print(f"saved {len(pdf)} pixel rows -> {OUT}")
    spark.stop()


def _profiled(label: str, frames):
    """Drain the kernel generator ``frames`` under cProfile; print the
    top functions and return the frames."""
    t0 = time.time()
    pr = cProfile.Profile()
    pr.enable()
    out = list(frames)
    pr.disable()
    dt = time.time() - t0
    print(f"{label}: {sum(len(f) for f in out)} out rows in {dt:.2f}s")
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("tottime").print_stats(20)
    print(s.getvalue())
    return out


def profile(npart=64, part=0):
    from gdal2mbtiles_spark.operators.sparse import (_PHASE_DEPTH,
                                                     _phase_kernel,
                                                     _render_kernel)
    from gdal2mbtiles_spark.renderers import PngRenderer

    pdf = pd.read_parquet(OUT)
    top, bottom = Z, Z - _PHASE_DEPTH + 1
    shift = 8 + (top - bottom)
    ax = (pdf["gx"].to_numpy() >> shift)
    ay = (pdf["gy"].to_numpy() >> shift)
    key = (ax * 31 + ay) % npart
    sel = pdf[key == part].reset_index(drop=True)
    print(f"partition {part}/{npart}: {len(sel)} pixel rows")

    frames = _profiled("content kernel", _phase_kernel(
        top, bottom)(iter([sel])))
    tiles = pd.concat(frames, ignore_index=True)
    # the render stage's groupBy(content) + collect_list(owner)
    grouped = (tiles.groupby("content", sort=False)["owner"]
               .apply(lambda s: s.to_numpy()).rename("owners")
               .reset_index())
    print(f"{len(tiles)} tiles, {len(grouped)} distinct contents")
    _profiled("render kernel", _render_kernel(
        PngRenderer(compression=1))(iter([grouped])))


if __name__ == "__main__":
    if sys.argv[1] == "extract":
        extract()
    else:
        npart = int(sys.argv[2]) if len(sys.argv) > 2 else 64
        part = int(sys.argv[3]) if len(sys.argv) > 3 else 0
        profile(npart, part)
