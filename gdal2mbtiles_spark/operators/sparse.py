"""Sparse relational pyramid: the burn->pyramid chain without moving
pixel buffers between stages.

The density raster a burn produces is sparse (lit pixels only), and
the 2x2 box downsample is a *linear* operator per channel, so each
level follows from the one below it on sparse pixel arrays

    pixels(gx, gy, r, g, b, a)     -- global pixel coords, y-down

    parent(gx>>1, gy>>1).channel = (sum(children channel) + 2) >> 2

(missing children contribute 0 = transparent, exactly the
tms_align-embed semantics).

The pyramid runs in two parts:

1. a **content pass** (``pyramid_phase_contents``): multi-level numpy
   kernels shrink the sparse pixels level by level and emit, per tile,
   its owner (packed z, x, y) and its *content* — the tile's non-zero
   pixels as a few dozen bytes, canonical so that equal canvases have
   equal content.  Nothing is painted here.  ``(owner, content)`` is
   the only relation between stages: a pass starts from the previous
   pass's bottom-level contents, decoded back to sparse pixels — zero
   pixels add nothing to a sum, so the non-zero ones are all the next
   level needs;
2. a **render stage** (``render_contents``): one ``groupBy(content)``
   collects the owners of each distinct content, and one kernel
   paints, MD5-hashes and PNG-encodes each distinct canvas exactly
   once — the reference's one-render-per-distinct-hash ``seen`` memo
   (storages.py:119-131), pyramid-wide.

Tile payloads never cross an exchange; only the distinct payloads
leave Python, and the images relation is distinct by construction.

Equivalence to the generic buffer pipeline (operators.pyramid) is
asserted in tests: identical tile ids and payloads level by level.
This is the engine's only burn -> pyramid path (SURVEY.md §4
physical sketch, re-planned); the buffer pipeline remains for dense
rasters (fixtures, warp outputs) where sparsity doesn't hold.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import signed_low64
from ..grid import TILE_SIDE
from .burn import heat_alpha

# --- md5 zero-prefix states (round 6) ---------------------------------------
# The A1 contract hashes the FULL 256 KB canvas per unique tile, and the
# kernel profile (BENCH/profile_kernel.py) put md5 at ~48% of phase-kernel
# W.  A burn tile is mostly all-zero rows; md5 state after r zero rows is
# tile-independent, so 257 cached states (one 256 KB zero pass, built once
# per worker process) let each tile skip straight to its first lit row.
# Digests are bit-identical to hashlib.md5(raw) by construction (same byte
# stream through the same compression function).
_ROW_BYTES = TILE_SIDE * 4
_MD5_ZSTATES = None


def _md5_sparse(raw, first_row: int):
    """md5 of the full canvas ``raw`` (flat memoryview), resuming from
    the cached state after ``first_row`` all-zero rows."""
    global _MD5_ZSTATES
    if _MD5_ZSTATES is None:
        zrow = bytes(_ROW_BYTES)
        states = [hashlib.md5()]
        for _ in range(TILE_SIDE):
            h = states[-1].copy()
            h.update(zrow)
            states.append(h)
        _MD5_ZSTATES = states
    h = _MD5_ZSTATES[first_row].copy()
    h.update(raw[first_row * _ROW_BYTES:])
    return h


def heat_pixels(hist: DataFrame, z: int) -> DataFrame:
    """Burn histogram -> sparse RGBA pixels at native z.

    hist: (z, x(TMS), y(TMS), ppx, ppy, w).  Pixels are white, with
    alpha from the burn's heat ramp (burn.heat_alpha)."""
    n = 1 << z
    alpha = heat_alpha(F.col("w"))
    # global pixel coords are y-down: convert TMS tile y back
    gy = (F.lit(n - 1) - F.col("y")) * TILE_SIDE + F.col("ppy")
    gx = F.col("x") * TILE_SIDE + F.col("ppx")
    return hist.select(
        F.lit(z).cast("int").alias("z"),
        gx.cast("long").alias("gx"), gy.cast("long").alias("gy"),
        F.lit(255).alias("r"), F.lit(255).alias("g"),
        F.lit(255).alias("b"), alpha.alias("a"))


CONTENT_SCHEMA = "owner bigint, content binary"
# one row per distinct content: the image plus every tile showing it
RENDERED_SCHEMA = ("tile_id bigint, tile_data binary, tile_hex string, "
                   "owners array<bigint>")

_KEY_SHIFT = np.int64(1) << 32
# owner = z << 58 | x << 29 | y(TMS): lossless for every slippy level
# z <= 29 (x, y < 2^29), and a primitive long keeps the owner lists
# and their explode narrow
_OWNER_Z_SHIFT = 58
_OWNER_X_SHIFT = 29
_OWNER_MASK = (1 << _OWNER_X_SHIFT) - 1
MAX_OWNER_Z = 29
# rendered tiles per output frame: bounds a render task's payload
# memory, whatever the input batch size
_OUT_CHUNK = 1024
# no pass ends below this level but the last, which runs the levels
# under it from the level-_PASS_FLOOR contents (or the native pixels,
# z < _PASS_FLOOR) in one partition: a level-L tile set holds at most
# (256*2^L)^2 pixels regardless of input size (<= 4.2M at L=3, 6
# content bytes each)
_PASS_FLOOR = 3
# levels per distributed content pass
_PHASE_DEPTH = 5


def _shrink_sparse(gx, gy, ch):
    """One 2x2 box level on sparse arrays: group by (gx>>1, gy>>1),
    per-channel (sum + 2) >> 2 (missing children contribute 0),
    bit-identical to the canvas shrink because box blocks never cross
    tile boundaries."""
    key = (gx >> 1) * _KEY_SHIFT + (gy >> 1)
    order = np.argsort(key, kind="stable")
    key = key[order]
    uniq, starts = np.unique(key, return_index=True)
    out_ch = []
    for c in ch:
        sums = np.add.reduceat(c[order].astype(np.int64), starts)
        out_ch.append(((sums + 2) >> 2).astype(np.int64))
    return uniq // _KEY_SHIFT, uniq % _KEY_SHIFT, out_ch


def _tile_contents(gx, gy, ch, lvl: int):
    """Owners and contents of every tile of one level's sparse arrays.

    A tile exists when it holds any pixel row, all-zero rows included
    (a faint pixel shrinks to (0,0,0,0) after a few levels but keeps
    its tile).  Its content is lx‖ly‖r‖g‖b‖a (uint8 blocks) over the
    tile's NON-ZERO pixels in (ly, lx) order: two tiles have equal
    content exactly when their canvases are equal — with the zero
    pixels in the key, two keys could paint one canvas and duplicate
    its image row.  An all-zero tile has empty content (the blank
    canvas).  Fully vectorized: the byte blocks of all tiles are
    scattered into one buffer and sliced by an Arrow offsets array."""
    tx, ty = gx >> 8, gy >> 8
    lx = (gx & 255).astype(np.uint8)
    ly = (gy & 255).astype(np.uint8)
    order = np.lexsort((lx, ly, ty, tx))
    key = (tx * _KEY_SHIFT + ty)[order]
    head = np.ones(len(key), dtype=bool)
    head[1:] = key[1:] != key[:-1]
    tile_of = np.cumsum(head) - 1
    heads = order[head]
    n_tiles = len(heads)
    owner = ((np.int64(lvl) << _OWNER_Z_SHIFT)
             + (tx[heads] << _OWNER_X_SHIFT)
             + ((np.int64(1) << lvl) - 1 - ty[heads]))   # TMS flip

    lit = (ch[0] | ch[1] | ch[2] | ch[3])[order] != 0
    o = order[lit]
    t = tile_of[lit]
    n = np.bincount(t, minlength=n_tiles)
    end = np.cumsum(n)
    start = end - n
    base = 6 * start[t] + np.arange(len(o)) - start[t]
    buf = np.empty(6 * len(o), dtype=np.uint8)
    for i, col in enumerate((lx, ly, *ch)):
        buf[base + i * n[t]] = col[o].astype(np.uint8)
    offsets = np.zeros(n_tiles + 1, dtype=np.int64)
    offsets[1:] = 6 * end
    content = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n_tiles,
        [None, pa.py_buffer(offsets), pa.py_buffer(buf)])
    return owner, content.to_numpy(zero_copy_only=False)


def _decode_contents(owner, content, lvl: int):
    """Sparse arrays (gx, gy, [r, g, b, a]) of level-``lvl`` tiles from
    their owners and contents: the inverse of ``_tile_contents``.

    Each tile also gets one all-zero pixel at its local (0, 0): an
    all-zero tile has empty content, and without that pixel it would
    vanish on the next shrink, taking its ancestors' map rows with it.
    A zero pixel adds nothing to any (sum + 2) >> 2."""
    owner = np.asarray(owner, dtype=np.int64)
    tx = (owner >> _OWNER_X_SHIFT) & _OWNER_MASK
    ty = (np.int64(1) << lvl) - 1 - (owner & _OWNER_MASK)   # TMS flip
    n = np.fromiter(map(len, content), dtype=np.int64,
                    count=len(owner)) // 6
    buf = np.frombuffer(b"".join(content), dtype=np.uint8)
    t = np.repeat(np.arange(len(owner)), n)
    start = np.cumsum(n) - n
    # pixel j of tile t sits at 6*start[t] + (j - start[t]) + i*n[t]
    # in block i (the _tile_contents layout)
    base = 5 * start[t] + np.arange(len(t))
    lx, ly, *ch = (buf[base + i * n[t]].astype(np.int64)
                   for i in range(6))
    zero = np.zeros(len(owner), dtype=np.int64)
    gx = np.concatenate((tx[t] * TILE_SIDE + lx, tx * TILE_SIDE))
    gy = np.concatenate((ty[t] * TILE_SIDE + ly, ty * TILE_SIDE))
    return gx, gy, [np.concatenate((c, zero)) for c in ch]


def pyramid_phase_contents(src: DataFrame, top: int,
                           bottom: int) -> DataFrame:
    """Tile contents of levels [top..bottom] in ONE kernel pass.

    Input: the native sparse pixels at level ``top`` (gx, gy, r, g, b,
    a), or the previous stage's level-(top+1) content rows (owner,
    content).  Partitioning by the level-``bottom`` ancestor tile
    guarantees all four children of any parent tile >= bottom are
    co-located, so the kernel can loop: emit every tile's content at
    the current level, then 2x2-shrink the sparse rows in-task and
    recurse — one shuffle and one plan for ``top - bottom + 1`` levels
    instead of one per level (the per-level chain's serial
    Catalyst/scheduling cost dominated the 4-vs-16-core scaling gap).
    Output: (owner, content) rows only; the bottom level's rows are
    the next stage's input."""
    if "content" in src.columns:
        # the level-bottom ancestor of TMS tile (x, y) at level top+1
        # is (x >> gap, y >> gap), read from the owner bits
        gap = top + 1 - bottom
        owner = F.col("owner")
        keyed = src.select(
            "owner", "content",
            F.shiftright(F.shiftright(owner, _OWNER_X_SHIFT)
                         .bitwiseAND(F.lit(_OWNER_MASK)), gap)
            .alias("_ax"),
            F.shiftright(owner.bitwiseAND(F.lit(_OWNER_MASK)), gap)
            .alias("_ay"))
    else:
        shift = 8 + (top - bottom)      # log2(TILE_SIDE) + level gap
        keyed = src.select(
            "gx", "gy", "r", "g", "b", "a",
            F.shiftright("gx", shift).alias("_ax"),
            F.shiftright("gy", shift).alias("_ay"))
    sc = src.sparkSession.sparkContext
    # one partition per core: every Python task costs a fixed ~0.004 s
    # of worker CPU (BENCH/python_task_cost.py, 4-core box), and the
    # kernel is only a lexsort and a shrink per level, so a single
    # wave has little task-duration spread to hide.
    # Never more partitions than distinct ancestor keys (4^bottom): the
    # surplus partitions are provably empty and each still costs a
    # task launch + python round trip.
    p = sc.defaultParallelism
    if bottom < 16:
        p = min(p, 4 ** bottom)
    keyed = keyed.repartition(p, "_ax", "_ay")
    return keyed.mapInPandas(_phase_kernel(top, bottom),
                             schema=CONTENT_SCHEMA)


def _phase_kernel(top: int, bottom: int):
    """Build the multi-level content kernel closure (module level so
    BENCH/profile_kernel.py profiles the REAL kernel).  Its input
    batches are either native pixels at level ``top`` or content rows
    at level ``top + 1``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = (parts[0] if len(parts) == 1
               else pd.concat(parts, ignore_index=True))
        if "content" in pdf:
            gx, gy, ch = _shrink_sparse(*_decode_contents(
                pdf["owner"], pdf["content"], top + 1))
        else:
            gx = pdf["gx"].to_numpy(np.int64)
            gy = pdf["gy"].to_numpy(np.int64)
            ch = [pdf[c].to_numpy().astype(np.int64)
                  for c in ("r", "g", "b", "a")]
        for lvl in range(top, bottom - 1, -1):
            owner, content = _tile_contents(gx, gy, ch, lvl)
            yield pd.DataFrame({"owner": owner, "content": content})
            if lvl > bottom:
                gx, gy, ch = _shrink_sparse(gx, gy, ch)

    return kernel


def _render_content(content: bytes, canvas: np.ndarray,
                    renderer) -> Tuple[int, str, bytes]:
    """Paint, MD5-hash and encode one tile content: the only place the
    sparse pyramid materializes a canvas.

    ``canvas`` is an all-zero (256, 256, 4) uint8 scratch buffer and is
    left all-zero on return.  The MD5 is of the RAW RGBA buffer (A1
    contract); the returned bytes are the encoded payload."""
    px = np.frombuffer(content, dtype=np.uint8).reshape(6, -1)
    lx, ly = px[0], px[1]
    canvas[ly, lx] = px[2:].T
    raw = canvas.reshape(-1).data           # zero-copy view
    # content is (ly, lx)-sorted, so ly[0] is the first lit row: md5
    # resumes from the cached zero-prefix state (bit-identical digest);
    # the blank canvas resumes after all TILE_SIDE zero rows
    hx = _md5_sparse(raw, int(ly[0]) if len(ly) else TILE_SIDE
                     ).hexdigest()
    # ly (sorted, possibly duplicated) is a valid lit_hint — the
    # encoder content-verifies rows, so its bytes are a pure function
    # of the pixels
    data = renderer.render(raw, lit_hint=ly)
    canvas[ly, lx] = 0                      # clear only lit pixels
    return signed_low64(int(hx, 16)), hx, data


def _render_kernel(renderer):
    """mapInPandas body of the render stage: (content, owners) rows ->
    RENDERED_SCHEMA rows, streamed out in _OUT_CHUNK-row frames."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        canvas = np.zeros((TILE_SIDE, TILE_SIDE, 4), dtype=np.uint8)
        for pdf in batches:
            for s in range(0, len(pdf), _OUT_CHUNK):
                part = pdf.iloc[s:s + _OUT_CHUNK]
                out = [_render_content(ck, canvas, renderer)
                       for ck in part["content"]]
                yield pd.DataFrame({
                    "tile_id": np.array([o[0] for o in out],
                                        dtype=np.int64),
                    "tile_data": [o[2] for o in out],
                    "tile_hex": [o[1] for o in out],
                    "owners": part["owners"].to_numpy()})

    return kernel


def render_contents(contents: DataFrame, renderer) -> DataFrame:
    """Render stage: (owner, content) rows -> one RENDERED_SCHEMA row
    per distinct content.

    The explicit content-hash repartition both balances the render
    load and fixes its parallelism (AQE would coalesce the few-MB
    content exchange into one task); the groupBy reuses that
    partitioning, so the only exchange carries content and owners.
    One partition per core: hashing spreads distinct contents evenly,
    and each extra Python task costs ~0.004 s of fixed worker CPU
    (BENCH/python_task_cost.py, 4-core box)."""
    p = contents.sparkSession.sparkContext.defaultParallelism
    grouped = (contents.repartition(p, "content")
               .groupBy("content")
               .agg(F.collect_list("owner").alias("owners")))
    return grouped.mapInPandas(_render_kernel(renderer),
                               schema=RENDERED_SCHEMA)


def sparse_pyramid_rendered(spark: SparkSession, hist: DataFrame,
                            z: int, renderer,
                            min_resolution: int = 0
                            ) -> Tuple[DataFrame, DataFrame]:
    """Full pipeline: histogram -> phased content passes -> render
    stage -> (images, map).

    Every level comes from the same kernel in multi-level content
    passes (one shuffle + one plan per pass instead of per level) of
    at most _PHASE_DEPTH levels.  A pass keyed by its bottom ancestor
    has 4^bottom groups, so no pass ends below _PASS_FLOOR (>= 4^3 =
    64 keys) except the last: it runs every level below the floor,
    down to ``min_resolution``, from the level-_PASS_FLOOR contents,
    which are O(1) in data scale, in one partition.

    Only (owner, content) rows cross a stage boundary: the next pass
    reads the previous pass's bottom-level contents from its eager
    local checkpoint, decodes them and shrinks them.  Every tile's
    content then meets in the render stage, which paints, hashes and
    encodes each distinct content once and is materialized once (eager
    local checkpoint), so neither output re-renders, and the pass
    checkpoints are released as soon as it exists.

    images: (tile_id, tile_data encoded, tile_hex), one row per
    distinct canvas; map: (zoom_level, tile_column, tile_row,
    tile_id), one row per tile."""
    if z > MAX_OWNER_Z:
        raise ValueError(f"z {z} exceeds the packed-owner limit "
                         f"{MAX_OWNER_Z}")
    src = heat_pixels(hist, z)
    contents, checkpoints = [], []
    top = z
    while top >= min_resolution:
        floor = _PASS_FLOOR if top >= _PASS_FLOOR else min_resolution
        bottom = max(min_resolution, floor, top - _PHASE_DEPTH + 1)
        out = pyramid_phase_contents(src, top, bottom)
        if bottom > min_resolution:
            # two consumers (the next stage and the render stage): one
            # materialization.  The last pass feeds only the render
            # stage, whose eager checkpoint runs it exactly once.
            out = out.localCheckpoint(eager=True)
            checkpoints.append(out)
            src = out.where(
                F.shiftright("owner", _OWNER_Z_SHIFT) == bottom)
        contents.append(out)
        top = bottom - 1

    union = contents[0]
    for part in contents[1:]:
        union = union.unionByName(part)
    rendered = render_contents(union, renderer).localCheckpoint(eager=True)
    # the render checkpoint holds every output row, so the pass
    # checkpoints are dead.  Their blocks belong to the RDD under each
    # checkpoint's LogicalRDD, which DataFrame.unpersist() does not
    # reach; release them now instead of at the ContextCleaner's GC.
    for out in checkpoints:
        out._jdf.queryExecution().analyzed().rdd().unpersist(False)

    images = rendered.select("tile_id", "tile_data", "tile_hex")
    owner = F.col("_o")
    map_df = rendered.select(F.explode("owners").alias("_o"),
                             "tile_id").select(
        F.shiftright(owner, _OWNER_Z_SHIFT).cast("int")
        .alias("zoom_level"),
        (F.shiftright(owner, _OWNER_X_SHIFT)
         .bitwiseAND(F.lit(_OWNER_MASK))).alias("tile_column"),
        owner.bitwiseAND(F.lit(_OWNER_MASK)).alias("tile_row"),
        "tile_id")
    return images, map_df
