"""Multimodal column handling: image and video as opaque BINARY columns
with typed metadata, processed by Arrow-batched UDFs over mapInPandas.

- Images: decode (PNG/qpng via core/images.py, baseline JPEG via
  core/jpeg.py — the lane-parallel batch decoder for jpeg rows), area
  resize, a grayscale feature vector + phash, and header-only metadata
  (core/images.py sniff_image) for cheap pre-decode validation.
- Video: MJPEG in THREE containers — AVI (core/video.py, RIFF), MP4
  (core/mp4.py, ISO BMFF) and Matroska/WebM (core/mkv.py, EBML):
  sample_frames parses the real container and entropy-decodes only the
  sampled frames; for non-MJPEG codecs in MP4/MKV it emits real
  keyframe BYTE RANGES from the sample table / block index. Animated
  GIF (core/gif.py) is a fourth intra-only container: sampling
  decompresses ONLY the wanted frames.
- Unrecognized video containers are a clearly-marked stub:
  ``NotImplementedError``, with a deterministic fake behind
  ``allow_fake=True`` so the batch plumbing is exercised by tests.

The crawl's own image checks live in functions/imagefn.py, not here.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core.images import decode, phash64

RESIZE_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
                 "out_w int, out_h int, pixels binary")
FEATURE_SCHEMA = "image_id string, feature array<float>, phash long"
FRAME_SCHEMA = "media_id string, frame_idx int, frame binary"


def block_mean_resize(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Area-average resize (real implementation, numpy only)."""
    h, w, c = px.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    out = np.empty((out_h, out_w, c), dtype=np.uint8)
    for i in range(out_h):
        for j in range(out_w):
            out[i, j] = px[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean(axis=(0, 1))
    return out


def _decode_batch(bufs, fmts) -> list[np.ndarray]:
    """Decode one Arrow batch of images: jpeg rows go through the
    LANE-PARALLEL batch decoder (core/jpeg.jpeg_decode_batch —
    bit-identical to the scalar path), everything else through the
    per-format scalar decoders. A failed jpeg raises, matching the
    scalar path's behavior."""
    from ..core.jpeg import jpeg_decode_batch

    bufs = [bytes(b) for b in bufs]
    jpeg_ix = [i for i, (b, f) in enumerate(zip(bufs, fmts))
               if f == "jpeg" and b[:4] != b"QPNG"]
    out: list = [None] * len(bufs)
    if jpeg_ix:
        for i, px in zip(jpeg_ix, jpeg_decode_batch([bufs[i] for i in jpeg_ix])):
            if px is None:
                raise ValueError("jpeg decode failed")
            out[i] = px
    for i, (b, f) in enumerate(zip(bufs, fmts)):
        if out[i] is None:
            out[i] = decode(b, f)
    return out


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """mapInPandas image resize: decode → block-mean → raw RGB out.
    Input df needs (image_id, bytes, w, h, fmt)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pixels = [block_mean_resize(px, out_w, out_h).tobytes()
                      for px in _decode_batch(pdf["bytes"], pdf["fmt"])]
            pdf = pdf[["image_id", "bytes", "w", "h", "fmt"]].copy()
            pdf["out_w"] = np.int32(out_w)
            pdf["out_h"] = np.int32(out_h)
            pdf["pixels"] = pixels
            yield pdf

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(run, RESIZE_SCHEMA)


def image_features(df: DataFrame, grid: int = 4) -> DataFrame:
    """Decode → grid×grid grayscale block means as the feature vector +
    phash. The cheap CPU-only stand-in for a vision-model embedding; the
    plumbing (binary in, array<float> out, Arrow batches) is the real part."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, hashes = [], []
            for px in _decode_batch(pdf["bytes"], pdf["fmt"]):
                small = block_mean_resize(px, grid, grid).astype(np.float32)
                gray = small.mean(axis=2) / 255.0
                feats.append(gray.flatten().tolist())
                hashes.append(phash64(px))
            yield pd.DataFrame({
                "image_id": pdf["image_id"], "feature": feats,
                "phash": pd.Series(hashes, dtype="int64"),
            })

    return df.select("image_id", "bytes", "fmt").mapInPandas(run, FEATURE_SCHEMA)


IMAGE_META_SCHEMA = ("image_id string, fmt_sniffed string, w int, h int, "
                     "bit_depth int, channels int, header_ok boolean")


def image_metadata_table(df: DataFrame) -> DataFrame:
    """Header-only image metadata over (image_id, bytes): fmt,
    dimensions, bit depth, channels from the first ~100 bytes — no
    pixel decode (core/images.py sniff_image). Unrecognized or
    truncated headers yield header_ok=false with null fields instead
    of failing the batch: at 100 TB a corrupt row is a statistic, not
    an abort. Pure per-row Arrow kernel — no shuffle."""
    import struct

    from ..core.images import sniff_image

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    if buf is None:
                        raise ValueError("null payload")
                    m = sniff_image(bytes(buf))
                    rows.append((mid, m["fmt"], m["w"], m["h"],
                                 m["bit_depth"], m["channels"], True))
                except (ValueError, struct.error):
                    rows.append((mid, None, None, None, None, None, False))
            out = pd.DataFrame(rows, columns=[
                "image_id", "fmt_sniffed", "w", "h", "bit_depth",
                "channels", "header_ok"])
            for c in ("w", "h", "bit_depth", "channels"):
                out[c] = out[c].astype("Int32")
            yield out

    return df.select("image_id", "bytes").mapInPandas(
        run, schema=IMAGE_META_SCHEMA)


def validate_image_headers(df: DataFrame) -> DataFrame:
    """Cheap pre-decode validation for the input_hint catalog shape
    (image_id, bytes, w, h, fmt, …): sniff each payload's header and
    flag rows whose container disagrees with the catalog columns.

    Returns the input plus `meta_ok` — header parsed AND sniffed
    (fmt, w, h) match the claimed columns. The at-scale contract:
    filter on meta_ok BEFORE the full-decode PSNR stage so mislabeled
    or truncated payloads cost ~100 header bytes, not a decode. The
    broadcast-free plan is a single narrow mapInPandas + join on
    image_id (co-partitioned, no extra shuffle when the input is
    already hash-distributed by image_id)."""
    meta = image_metadata_table(df)
    return (
        df.join(meta.select(
            "image_id", "fmt_sniffed",
            F.col("w").alias("w_sniffed"), F.col("h").alias("h_sniffed"),
            "header_ok"), on="image_id", how="left")
        .withColumn(
            "meta_ok",
            F.coalesce(F.col("header_ok"), F.lit(False))
            & (F.col("fmt_sniffed") == F.col("fmt"))
            & (F.col("w_sniffed") == F.col("w"))
            & (F.col("h_sniffed") == F.col("h")))
        .drop("fmt_sniffed", "w_sniffed", "h_sniffed", "header_ok")
    )


def sample_frames(df: DataFrame, every_n: int = 10, n_frames: int = 3,
                  allow_fake: bool = False) -> DataFrame:
    """Frame sampling over a video BINARY column (media_id, bytes, fmt).

    REAL codec for MJPEG — in AVI (core/video.py, RIFF), MP4
    (core/mp4.py, ISO BMFF 'jpeg' sample entry) or Matroska/WebM
    (core/mkv.py, EBML 'V_MJPEG'): frames 0, every_n, 2·every_n, …
    up to n_frames are entropy-decoded (intra-only = O(sampled
    frames), never a full-stream decode) and emitted as lossless PNG
    bytes.

    REAL container, other codec (avc1/vp9/… in MP4; V_VP9/V_AV1/… in
    MKV): the sample table / block index still resolves every
    keyframe's BYTE RANGE without a codec — sampling emits the raw
    keyframe samples (what a downstream GPU decode stage wants).
    Decoding those to pixels is the only part that still needs an
    external codec.

    Unrecognized containers (no AVI/MP4/MKV signature): with
    allow_fake the 'frames' are deterministic byte slices of the
    payload (so batch shape, explode-like fan-out and partitioning
    are all real); raises NotImplementedError otherwise.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.gif import gif_frames, gif_parse, is_gif
        from ..core.images import png_encode
        from ..core.mkv import is_mkv, mkv_parse, mkv_sample_bytes
        from ..core.mp4 import is_mp4, mp4_parse, mp4_sample_bytes
        from ..core.video import is_avi, mjpeg_avi_decode

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, buf in zip(pdf["media_id"], pdf["bytes"]):
                data = bytes(buf)
                if is_gif(data):
                    # animated GIF: frames are independently LZW-coded
                    # (intra-only, like MJPEG) — ONE walk for metadata,
                    # one for the sampled set; non-sampled frames'
                    # sub-blocks are skipped, never decompressed
                    total = gif_parse(data)["n_frames"]
                    want = [fi * every_n for fi in range(n_frames)
                            if fi * every_n < total]
                    for fi, px in zip(want, gif_frames(data, want)):
                        ids.append(mid)
                        idxs.append(fi)
                        frames.append(png_encode(px))
                    continue
                if is_avi(data):
                    # REAL path: sample every_n-th frame, bounded by
                    # n_frames and the stream length
                    _probe, meta = mjpeg_avi_decode(data, frame_indices=[])
                    total = meta["n_frames"]
                    want = [fi * every_n for fi in range(n_frames)
                            if fi * every_n < total]
                    decoded, _ = mjpeg_avi_decode(data, frame_indices=want)
                    for fi, px in zip(want, decoded):
                        ids.append(mid)
                        idxs.append(fi)
                        frames.append(png_encode(px))
                    continue
                if is_mp4(data):
                    vids = [t for t in mp4_parse(data)
                            if t["handler"] == "vide" and t["n_samples"]]
                    if not vids:
                        raise ValueError("mp4 has no video track")
                    t = vids[0]
                    if t["codec"] == "jpeg":
                        # MJPEG-in-MP4: real pixels (core/jpeg.py)
                        from ..core.jpeg import jpeg_decode
                        want = [fi * every_n for fi in range(n_frames)
                                if fi * every_n < t["n_samples"]]
                        for fi in want:
                            ids.append(mid)
                            idxs.append(fi)
                            frames.append(png_encode(
                                jpeg_decode(mp4_sample_bytes(data, t, fi))))
                    else:
                        # container-level sampling: every_n-th KEYFRAME's
                        # raw sample bytes via the stsc/stco/stsz tables
                        keys = sorted(t["sync"])
                        want = [keys[fi * every_n]
                                for fi in range(n_frames)
                                if fi * every_n < len(keys)]
                        for fi in want:
                            ids.append(mid)
                            idxs.append(fi)
                            frames.append(mp4_sample_bytes(data, t, fi))
                    continue
                if is_mkv(data):
                    vids = [t for t in mkv_parse(data)
                            if t["handler"] == "vide" and t["n_samples"]]
                    if not vids:
                        raise ValueError("mkv has no video track")
                    t = vids[0]
                    if t["codec"] == "V_MJPEG":
                        # MJPEG-in-Matroska: real pixels (core/jpeg.py)
                        from ..core.jpeg import jpeg_decode
                        want = [fi * every_n for fi in range(n_frames)
                                if fi * every_n < t["n_samples"]]
                        for fi in want:
                            ids.append(mid)
                            idxs.append(fi)
                            frames.append(png_encode(
                                jpeg_decode(mkv_sample_bytes(data, t, fi))))
                    else:
                        # container-level sampling: every_n-th KEYFRAME's
                        # raw block bytes via the SimpleBlock/BlockGroup
                        # index (keyframe = flag bit / no ReferenceBlock)
                        keys = sorted(t["sync"])
                        want = [keys[fi * every_n]
                                for fi in range(n_frames)
                                if fi * every_n < len(keys)]
                        for fi in want:
                            ids.append(mid)
                            idxs.append(fi)
                            frames.append(mkv_sample_bytes(data, t, fi))
                    continue
                if not allow_fake:
                    raise NotImplementedError(
                        "unrecognized video container; use MJPEG/AVI "
                        "(core/video.py), MP4 (core/mp4.py) or "
                        "Matroska/WebM (core/mkv.py) — real pixels for "
                        "MJPEG tracks, keyframe byte ranges for any "
                        "codec — or pass allow_fake=True for the test "
                        "stand-in")
                for fi in range(n_frames):
                    off = (fi * every_n) % max(len(data), 1)
                    ids.append(mid)
                    idxs.append(fi)
                    frames.append(data[off : off + 64])
            yield pd.DataFrame({
                "media_id": ids,
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame": frames,
            })

    return df.select(F.col("media_id"), F.col("bytes")).mapInPandas(run, FRAME_SCHEMA)
