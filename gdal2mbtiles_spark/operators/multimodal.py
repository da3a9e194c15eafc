"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / resize / frame-sample as
Arrow-batched kernels over ``mapInPandas``.

The codec boundary is REAL for the two formats the engine itself
implements with zero dependencies — PNG (renderers.decode_png_rgba)
and baseline/progressive JPEG (jpeg.decode_jpeg_rgb) — detected by
magic bytes.
Other formats (WebP/AVIF/video) would need PIL/ffmpeg, absent from
this container: those either raise NotImplementedError or use the
deterministic fake (``fake=True``); the Spark-side plumbing (schemas,
batch shapes, partitioning, UDF signatures) is identical either way.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Attach a deterministic opaque media column to documents:
    media = utf-8 bytes of the text (stands in for encoded image
    bytes), plus typed metadata columns."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
        (F.col("n_chars") % 64 + 16).cast("int").alias("width"),
        (F.col("n_chars") % 48 + 16).cast("int").alias("height"),
        (F.col("n_chars") % 8 + 1).cast("int").alias("n_frames"))


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8"


def _is_supported_jpeg(media: bytes) -> bool:
    """True only for frames jpeg.decode_jpeg_rgb actually supports:
    SOF0 baseline OR SOF2 progressive (round-5), 8-bit, 3 components,
    4:4:4 (0x11) or 4:2:0 (0x22 luma + 0x11 chroma — the majority
    real-world layout) sampling; restart intervals are fine (the
    decoder handles DRI/RSTn).  A lossless/arithmetic/12-bit or
    exotically sampled file must NOT be routed into the decoder — it
    would fail deep inside instead of taking the clean
    NotImplementedError/fake path (round-2 ADVICE)."""
    i, n = 2, len(media)
    sof_ok = False
    while i + 4 <= n and media[i] == 0xFF:
        # optional fill bytes: any number of extra 0xFF may pad the
        # space before a marker (ITU-T T.81 B.1.1.2); treating the pad
        # as the marker byte misreads a bogus segment length and
        # rejects spec-valid files (round-3 ADVICE)
        while i + 4 <= n and media[i + 1] == 0xFF:
            i += 1
        if i + 4 > n:
            break
        marker = media[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:   # standalone
            i += 2
            continue
        seg_len = int.from_bytes(media[i + 2:i + 4], "big")
        if marker in (0xC0, 0xC2):              # baseline/progressive
            seg = media[i + 4:i + 2 + seg_len]
            if len(seg) < 6:
                return False
            precision, ncomp = seg[0], seg[5]
            if precision != 8 or ncomp != 3 or len(seg) < 6 + 3 * 3:
                return False
            samp = tuple(seg[6 + 3 * c + 1] for c in range(3))
            if samp not in ((0x11, 0x11, 0x11),       # 4:4:4
                            (0x22, 0x11, 0x11)):      # 4:2:0
                return False
            sof_ok = True                # keep scanning for DRI
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):  # other SOFs
            return False
        elif marker == 0xDA:
            return sof_ok
        i += 2 + seg_len
    return False


def _decode_rgb_stub(media: bytes, width: int, height: int,
                     fake: bool) -> np.ndarray:
    """Codec boundary.  PNG and baseline/progressive JPEG decode for
    real through
    the engine's own zero-dependency codecs (magic-byte dispatch with
    frame-header validation); anything else is either the
    deterministic fake (bytes tiled into the requested shape) or
    NotImplementedError — swap in PIL/ffmpeg on a cluster that has
    them for the remaining formats."""
    if media[:8] == _PNG_MAGIC:
        from ..renderers import decode_png_rgba
        return decode_png_rgba(media)[:, :, :3]
    if media[:2] == _JPEG_MAGIC and _is_supported_jpeg(media):
        from ..jpeg import decode_jpeg_rgb
        return decode_jpeg_rgb(media)
    if not fake:
        raise NotImplementedError(
            "no codec for this format in this environment; encode the "
            "media as PNG/JPEG, pass fake=True, or swap "
            "_decode_rgb_stub for PIL/ffmpeg")
    buf = np.frombuffer(media, dtype=np.uint8)
    need = width * height * 3
    reps = -(-need // max(len(buf), 1))
    return np.tile(buf, reps)[:need].reshape(height, width, 3)


def extract_features(media_df: DataFrame, fake: bool = True
                     ) -> DataFrame:
    """decode -> per-channel histogram features (FEATURE_DIM floats).
    Output: (doc_id, features array<float>)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for doc_id, media, w, h in zip(pdf["doc_id"], pdf["media"],
                                           pdf["width"], pdf["height"]):
                img = _decode_rgb_stub(bytes(media), int(w), int(h),
                                       fake)
                hist, _ = np.histogram(img, bins=FEATURE_DIM,
                                       range=(0, 256))
                ids.append(int(doc_id))
                feats.append((hist / hist.sum()).astype(np.float32))
            yield pd.DataFrame({"doc_id": ids, "features": feats})

    return media_df.mapInPandas(
        kernel, schema="doc_id bigint, features array<float>")


def resize(media_df: DataFrame, out_w: int = 8, out_h: int = 8,
           fake: bool = True) -> DataFrame:
    """decode -> nearest-neighbour resize -> re-emit raw RGB bytes.
    Output: (doc_id, media binary, width, height)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, outs = [], []
            for doc_id, media, w, h in zip(pdf["doc_id"], pdf["media"],
                                           pdf["width"], pdf["height"]):
                img = _decode_rgb_stub(bytes(media), int(w), int(h),
                                       fake)
                # trust the decoded dimensions (a real codec may
                # disagree with stale metadata columns)
                ih, iw = img.shape[:2]
                ys = (np.arange(out_h) * ih // out_h).astype(int)
                xs = (np.arange(out_w) * iw // out_w).astype(int)
                ids.append(int(doc_id))
                outs.append(img[np.ix_(ys, xs)].tobytes())
            yield pd.DataFrame({
                "doc_id": ids, "media": outs,
                "width": np.full(len(ids), out_w, dtype=np.int32),
                "height": np.full(len(ids), out_h, dtype=np.int32)})

    return media_df.mapInPandas(
        kernel,
        schema="doc_id bigint, media binary, width int, height int")


def sample_frames(media_df: DataFrame, every: int = 2,
                  fake: bool = True) -> DataFrame:
    """1->N frame sampling (video path): each media row emits
    ceil(n_frames / every) frame rows.  Output:
    (doc_id, frame_idx, media)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, media, w, h, nf in zip(
                    pdf["doc_id"], pdf["media"], pdf["width"],
                    pdf["height"], pdf["n_frames"]):
                img = _decode_rgb_stub(bytes(media), int(w), int(h),
                                       fake)
                for fi in range(0, int(nf), every):
                    # deterministic fake per-frame variation
                    ids.append(int(doc_id))
                    idxs.append(fi)
                    frames.append(
                        np.roll(img, fi, axis=0).tobytes())
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs,
                                "media": frames})

    return media_df.mapInPandas(
        kernel, schema="doc_id bigint, frame_idx int, media binary")
