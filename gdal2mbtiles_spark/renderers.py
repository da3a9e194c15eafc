"""Tile renderers: raw RGBA buffer -> encoded image bytes.

Mirrors the renderer strategy surface of the reference
(renderers.py:30-197: PngRenderer / JpegRenderer / TouchRenderer) as
Arrow-vectorized pandas-UDF-friendly callables.  The reference shells
out to libvips pngsave + optional pngquant/optipng; those encoders'
bytes are OS-dependent (its own png8 goldens are keyed by Ubuntu
release, tests/test_renderers.py:27-36).  We therefore implement a
deterministic pure-zlib PNG encoder: identical bytes on every platform
and executor, which is what content-addressed dedup requires.

Renderers operate on DEDUPED images only, exactly like the reference's
``seen``-memo short-circuit (storages.py:119-131): the sparse pyramid
calls them once per distinct tile content, in its render stage after
the groupBy(content) (operators.sparse.render_contents), and the
buffer pipeline once per distinct tile hash, after the groupBy(tile_id)
(operators.pyramid.render_images).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .grid import TILE_SIDE

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload \
        + struct.pack(">I", crc)


# ---- stitched-deflate sparse fast path (round 5) ---------------------------
#
# Heat-pyramid tiles average a handful of lit pixels on a transparent
# canvas, yet zlib must scan all 256 KB to compress them: the encode
# was measured at ~0.6 ms/tile — with md5 the single dominant cost of
# the z12 phase kernel (~75% of pyramid wall at 4 cores).  Deflate
# streams are concatenable at Z_FULL_FLUSH boundaries (the flush
# empties the window, so segments share no back-references), which
# lets us pre-compress BLANK-ROW RUNS once per run length and stitch
# them with per-row compressed segments for the few lit rows; the
# zlib adler32 trailer is reconstructed arithmetically (all-zero runs
# leave s1 fixed and add len*s1 to s2).  The output is a conformant
# single-member zlib stream — any inflater, including ours, reads it
# — but its BYTES differ from a monolithic zlib.compress, so the path
# is selected on CONTENT (lit-row count), never on which operator
# called it: identical pixels yield identical bytes everywhere, which
# is what the sparse-vs-buffered bit-identity contract requires.

_ADLER_MOD = 65521
_STITCH_MAX_LIT = 48         # lit-row bound for taking the fast path
_blank_run_cache: dict = {}  # (row_bytes, nrows, level) -> segment


def _zlib_header(level: int) -> bytes:
    """RFC-1950 CMF/FLG pair matching zlib's own FLEVEL for `level`."""
    flevel = 0 if level < 2 else 1 if level < 6 else 2 if level == 6 \
        else 3
    cmf = 0x78
    flg = flevel << 6
    flg |= 31 - ((cmf * 256 + flg) % 31)
    return bytes([cmf, flg])


def _raw_deflate_segment(data: bytes, level: int) -> bytes:
    """Raw-deflate `data` as a self-contained segment ending on a
    byte boundary (Z_FULL_FLUSH), safe to concatenate."""
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    return co.compress(data) + co.flush(zlib.Z_FULL_FLUSH)


def _blank_run_segment(row_bytes: int, nrows: int, level: int) -> bytes:
    key = (row_bytes, nrows, level)
    seg = _blank_run_cache.get(key)
    if seg is None:
        if len(_blank_run_cache) > 4096:
            _blank_run_cache.clear()
        seg = _raw_deflate_segment(bytes(row_bytes * nrows), level)
        _blank_run_cache[key] = seg
    return seg


# final empty deflate block (BFINAL=1, static Huffman, no symbols)
_DEFLATE_FINAL = zlib.compressobj(
    1, zlib.DEFLATED, -15).flush(zlib.Z_FINISH)


def _stitched_idat(arr: np.ndarray, lit_rows: np.ndarray,
                   level: int) -> bytes:
    """zlib stream for the unfiltered pixel-row matrix `arr`
    (h x stride uint8), touching only the rows flagged in
    `lit_rows`; blank rows cost O(1) via the segment cache and the
    adler zero-run identity."""
    h, stride = arr.shape
    row_bytes = stride + 1                 # + filter byte 0
    out = [_zlib_header(level)]
    s1, s2 = 1, 0
    # plain-python grouping of consecutive lit rows (round 6: the
    # np.diff/np.split group machinery was ~40% of the encode cost at
    # the typical 1-2 lit rows/tile — BENCH/profile_kernel.py); the
    # emitted groups, and therefore the bytes, are identical
    lit = np.flatnonzero(lit_rows).tolist()
    # one filtered-row build for ALL lit rows (compacted), sliced per
    # group below — group members are consecutive in `lit`
    scan_lit = np.empty((len(lit), row_bytes), dtype=np.uint8)
    if lit:
        scan_lit[:, 0] = 0
        scan_lit[:, 1:] = arr[lit]
    # ONE compressobj serves every lit segment — Z_FULL_FLUSH empties
    # the window at each boundary, so segments stay independent of the
    # pre-compressed blank runs spliced between them
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    prev_end = 0
    nlit = len(lit)
    i = 0
    while i < nlit:
        j = i + 1
        while j < nlit and lit[j] == lit[j - 1] + 1:
            j += 1
        start, stop = lit[i], lit[j - 1] + 1
        if start > prev_end:
            nblank = start - prev_end
            out.append(_blank_run_segment(row_bytes, nblank, level))
            s2 = (s2 + nblank * row_bytes * s1) % _ADLER_MOD
        seg_rows = scan_lit[i:j].tobytes()
        out.append(co.compress(seg_rows))
        out.append(co.flush(zlib.Z_FULL_FLUSH))
        a = zlib.adler32(seg_rows, (s2 << 16) | s1)
        s1, s2 = a & 0xFFFF, (a >> 16) & 0xFFFF
        prev_end = stop
        i = j
    if prev_end < h:
        nblank = h - prev_end
        out.append(_blank_run_segment(row_bytes, nblank, level))
        s2 = (s2 + nblank * row_bytes * s1) % _ADLER_MOD
    out.append(_DEFLATE_FINAL)
    out.append(struct.pack(">I", (s2 << 16) | s1))
    return b"".join(out)


def encode_png_rgba(raw: bytes, width: int = TILE_SIDE,
                    height: int = TILE_SIDE, compression: int = 6,
                    interlace: bool = False,
                    lit_hint=None) -> bytes:
    """Encode a raw RGBA8 buffer as a deterministic PNG.

    compression: zlib level 0-9 (reference renderers.py:119-137 exposes
    the same knob).  interlace=True uses Adam7 — supported for parity
    with the reference's ``interlace`` option via a simple pass
    restructure.

    lit_hint: optional int row indices that are a SUPERSET of the
    non-zero rows (the caller guarantees every unlisted row is
    all-zero — the sparse phase kernel knows its painted rows).  The
    hinted rows are still content-verified here, so the emitted bytes
    are a pure function of the pixels — identical to the unhinted
    encode — and the hint only skips the full-canvas ``any`` scan.
    """
    if len(raw) != width * height * 4:
        raise ValueError(
            f"buffer is {len(raw)} bytes; expected {width}x{height}x4")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, width * 4)
    if not interlace:
        # sparse fast path: tiles whose canvas is mostly all-zero rows
        # stitch pre-compressed blank-run deflate segments instead of
        # scanning 256 KB through zlib (content-selected, so identical
        # pixels produce identical bytes from every caller)
        if lit_hint is not None and len(lit_hint) < height:
            lit_rows = np.zeros(height, dtype=bool)
            if len(lit_hint):
                hint = np.asarray(lit_hint)
                lit_rows[hint] = arr[hint].any(axis=1)
        else:
            lit_rows = arr.any(axis=1)
        n_lit = int(lit_rows.sum())
        if 0 < compression and n_lit <= _STITCH_MAX_LIT:
            idat = _stitched_idat(arr, lit_rows, compression)
        else:
            # filter byte 0 (None) per scanline; vectorized prepend
            scan = np.empty((height, width * 4 + 1), dtype=np.uint8)
            scan[:, 0] = 0
            scan[:, 1:] = arr
            idat = zlib.compress(scan.tobytes(), compression)
        interlace_flag = 0
    else:
        img = arr.reshape(height, width, 4)
        passes = []
        # Adam7 pass offsets/strides: (x0, y0, dx, dy)
        for x0, y0, dx, dy in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                               (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                               (0, 1, 1, 2)):
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            h, w = sub.shape[:2]
            rows = np.empty((h, w * 4 + 1), dtype=np.uint8)
            rows[:, 0] = 0
            rows[:, 1:] = sub.reshape(h, w * 4)
            passes.append(rows.tobytes())
        idat = zlib.compress(b"".join(passes), compression)
        interlace_flag = 1
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6, 0, 0,
                       interlace_flag)
    return (_PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def encode_png8(raw: bytes, width: int = TILE_SIDE,
                height: int = TILE_SIDE, compression: int = 6,
                max_colors: int = 256) -> bytes:
    """Paletted (color-type 3) PNG: the reference's pngquant png8 path
    (renderers.py:139-167) as a deterministic quantizer.

    Exact palette when the tile has <= max_colors distinct RGBA values
    (the common case for deduped map tiles); otherwise a deterministic
    per-channel posterization to floor(max_colors^(1/4)) levels.
    Alpha rides in a tRNS chunk."""
    if not 2 <= max_colors <= 256:
        raise ValueError(f"png8 must be between 2 and 256: "
                         f"{max_colors!r}")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, width, 4)
    flat = arr.reshape(-1, 4)
    # view as uint32 for fast uniqueness
    as32 = flat.view(np.uint32).reshape(-1)
    uniq, inverse = np.unique(as32, return_inverse=True)
    if len(uniq) > max_colors:
        # posterize, lowering per-channel levels until the ACTUAL
        # distinct count honors the requested bound (levels**4 is only
        # the worst case; levels=1 degenerates to a single color, so
        # the loop always terminates within max_colors >= 2)
        for levels in range(max(2, int(max_colors ** 0.25)), 0, -1):
            step = 256 // levels
            post = (flat // step) * step + step // 2
            as32 = post.astype(np.uint8).reshape(-1, 4).view(
                np.uint32).reshape(-1)
            uniq, inverse = np.unique(as32, return_inverse=True)
            if len(uniq) <= max_colors:
                break
    palette = uniq.view(np.uint8).reshape(-1, 4)
    # canonical palette order by explicit (R, G, B, A) keys — byte
    # determinism independent of executor endianness (the uint32 view
    # order above is native-endian)
    order = np.lexsort((palette[:, 3], palette[:, 2],
                        palette[:, 1], palette[:, 0]))
    palette = palette[order]
    remap = np.empty(len(order), dtype=np.uint8)
    remap[order] = np.arange(len(order), dtype=np.uint8)
    idx = remap[inverse].reshape(height, width)
    scan = np.empty((height, width + 1), dtype=np.uint8)
    scan[:, 0] = 0
    scan[:, 1:] = idx
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    plte = palette[:, :3].tobytes()
    trns = palette[:, 3].tobytes()
    idat = zlib.compress(scan.tobytes(), compression)
    return (_PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
            + _chunk(b"tRNS", trns) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def decode_png_rgba(png: bytes) -> np.ndarray:
    """Minimal non-interlaced PNG decoder (test helper): returns
    (h, w, 4) uint8.  Only filter types 0/1/2 are handled — enough to
    round-trip our own encoder output."""
    assert png[:8] == _PNG_SIG
    pos, idat, w = 8, b"", None
    plte = trns = None
    while pos < len(png):
        (length,) = struct.unpack(">I", png[pos:pos + 4])
        tag = png[pos + 4:pos + 8]
        payload = png[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, inter = struct.unpack(
                ">IIBBBBB", payload)
            assert depth == 8 and ctype in (3, 6) and inter == 0
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = np.frombuffer(payload, np.uint8)
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + length
    raw = zlib.decompress(idat)
    if ctype == 3:
        stride = w + 1
        idx = np.zeros((h, w), dtype=np.uint8)
        for row in range(h):
            line = np.frombuffer(raw[row * stride:(row + 1) * stride],
                                 dtype=np.uint8)
            assert line[0] == 0, "palette decode supports filter 0 only"
            idx[row] = line[1:]
        out = np.zeros((h, w, 4), dtype=np.uint8)
        out[..., :3] = plte[idx]
        out[..., 3] = (trns[idx] if trns is not None else 255)
        return out
    stride = w * 4 + 1
    out = np.zeros((h, w * 4), dtype=np.uint8)
    prev = np.zeros(w * 4, dtype=np.int32)
    for row in range(h):
        line = np.frombuffer(raw[row * stride:(row + 1) * stride],
                             dtype=np.uint8)
        ftype, data = line[0], line[1:].astype(np.int32)
        if ftype == 0:
            cur = data
        elif ftype == 2:  # Up
            cur = (data + prev) % 256
        elif ftype == 1:  # Sub
            cur = data.copy()
            for i in range(4, w * 4):
                cur[i] = (cur[i] + cur[i - 4]) % 256
        else:
            raise NotImplementedError(f"filter {ftype}")
        out[row] = cur
        prev = cur
    return out.reshape(h, w, 4)


class PngRenderer:
    """PNG strategy (reference renderers.py:98-188).

    png8 (palette quantization, the reference's pngquant path) is
    implemented as an exact-palette reduction: if the tile has <=
    ``colors`` distinct RGBA values it is encoded as color-type-3
    PNG; otherwise a deterministic median-cut-free uniform quantization
    is applied.  Bytes are OUR encoder's — the reference's own png8
    goldens are OS-specific, so raw-buffer hashes are the portable
    contract (FIXTURES.md §3).
    """

    suffix = ".png"

    def __init__(self, compression: int = 6, interlace: bool = False,
                 png8: bool = False):
        if not 0 <= int(compression) <= 9:
            raise ValueError(f"compression {compression!r} must be 0-9")
        self.compression = int(compression)
        self.interlace = bool(interlace)
        self.png8 = png8

    def render(self, raw: bytes, width: int = TILE_SIDE,
               height: int = TILE_SIDE, lit_hint=None) -> bytes:
        if self.png8:
            colors = 256 if self.png8 is True else int(self.png8)
            return encode_png8(raw, width=width, height=height,
                               compression=self.compression,
                               max_colors=colors)
        return encode_png_rgba(raw, width=width, height=height,
                               compression=self.compression,
                               interlace=self.interlace,
                               lit_hint=lit_hint)


class JpegRenderer:
    """JPEG strategy (reference renderers.py:49-95): drops the alpha
    channel (bands > 3 keep the first 3) and encodes through the
    pure-numpy baseline codec in ``jpeg.py`` — real, decoder-readable
    JFIF bytes (SOI/DQT/SOF0/DHT/SOS), deterministic on every
    executor.  The reference's libvips encoder bytes are OS-dependent;
    determinism is what content-addressed dedup requires."""

    suffix = ".jpeg"

    def __init__(self, quality: int = 85):
        if not 0 <= int(quality) <= 100:
            raise ValueError(f"quality {quality!r} must be 0-100")
        self.quality = int(quality)

    def strip_alpha(self, raw: bytes, width: int = TILE_SIDE,
                    height: int = TILE_SIDE) -> bytes:
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, width, -1)
        return arr[:, :, :3].tobytes()

    def render(self, raw: bytes, width: int = TILE_SIDE,
               height: int = TILE_SIDE, lit_hint=None) -> bytes:
        from .jpeg import encode_jpeg_rgb
        rgb = np.frombuffer(self.strip_alpha(raw, width, height),
                            dtype=np.uint8).reshape(height, width, 3)
        return encode_jpeg_rgb(rgb, quality=max(self.quality, 1))


class TouchRenderer:
    """Null renderer returning empty bytes (reference
    renderers.py:191-197) — used by the golden tile-set tests where
    only membership/hashes matter, not payloads."""

    def __init__(self, suffix: str = ""):
        self.suffix = suffix

    def render(self, raw: bytes, **_) -> bytes:
        return b""

