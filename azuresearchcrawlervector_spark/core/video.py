"""MJPEG-in-AVI video codec — pure Python/numpy, no ffmpeg.

A REAL compressed-video format built entirely from public specs: the
Microsoft RIFF/AVI container (AVI RIFF File Reference: 'RIFF…AVI ' with
LIST hdrl {avih, LIST strl {strh 'vids'/'MJPG', strf BITMAPINFOHEADER}},
LIST movi {'00dc' frame chunks}, idx1 index) carrying one baseline JPEG
(core/jpeg.py — ITU-T T.81) bitstream per frame. Motion JPEG is the
standard intra-only video codec (every frame a keyframe), which is
exactly what a frame-sampling training pipeline wants: frame k decodes
without touching frames 0..k-1.

This retires the round-1..3 ``NotImplementedError`` video stub in
operators/multimodal.py for the ``mjpeg``/AVI case (reference scope:
the reference crawler has no media pipeline at all — this belongs to
the beyond-the-reference multimodal family). A production deployment
swaps this module for ffmpeg with no Spark-side changes.

Bit-exactness contract (tests/test_video.py): every decoded frame ==
core.jpeg.reconstruct(frame, quality) — the container + entropy layer
round-trips losslessly over the lossy-DCT model, same as still JPEG.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import jpeg_decode, jpeg_encode

AVIF_HASINDEX = 0x00000010
AVIIF_KEYFRAME = 0x00000010


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    """RIFF chunk: fourcc + size + payload, padded to even length."""
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def mjpeg_avi_encode(frames: list[np.ndarray], fps: int = 10,
                     quality: int = 90) -> bytes:
    """HxWx3 uint8 RGB frames (all same shape) → AVI bytes with one
    '00dc' MJPG chunk per frame + a spec-compliant idx1 index."""
    assert frames, "at least one frame"
    h, w = frames[0].shape[:2]
    assert all(f.shape == frames[0].shape for f in frames), "uniform shape"
    jpegs = [jpeg_encode(f, quality) for f in frames]
    max_sz = max(len(j) for j in jpegs)

    # MainAVIHeader: 14 DWORDs
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,          # dwMicroSecPerFrame
        max_sz * fps,              # dwMaxBytesPerSec
        0,                         # dwPaddingGranularity
        AVIF_HASINDEX,             # dwFlags
        len(frames),               # dwTotalFrames
        0,                         # dwInitialFrames
        1,                         # dwStreams
        max_sz,                    # dwSuggestedBufferSize
        w, h, 0, 0, 0, 0,          # dwWidth, dwHeight, dwReserved[4]
    )
    # AVIStreamHeader: fccType/fccHandler + 8 DWORDs + 2 WORDs.. = 56 B
    strh = (b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIii",
        0, 0, 0,                   # dwFlags, wPriority, wLanguage
        0,                         # dwInitialFrames
        1, fps,                    # dwScale, dwRate (rate/scale = fps)
        0, len(frames),            # dwStart, dwLength
        max_sz,                    # dwSuggestedBufferSize
        -1, 0,                     # dwQuality, dwSampleSize
    ) + struct.pack("<4h", 0, 0, w, h))  # rcFrame
    # BITMAPINFOHEADER, biCompression='MJPG'
    strf = struct.pack("<IiiHH", 40, w, h, 1, 24) + b"MJPG" + struct.pack(
        "<IiiII", w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))

    # movi list + idx1 (offsets relative to the 'movi' fourcc, the
    # common convention)
    movi_payload = b""
    idx = b""
    for j in jpegs:
        off = 4 + len(movi_payload)  # past the 'movi' fourcc
        movi_payload += _chunk(b"00dc", j)
        idx += b"00dc" + struct.pack("<III", AVIIF_KEYFRAME, off, len(j))
    movi = _list(b"movi", movi_payload)
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _walk_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) over a chunk run."""
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if pos + 8 + size > end:
            raise ValueError("chunk overruns container")
        yield fourcc, pos + 8, size
        pos += 8 + size + (size % 2)  # even padding


def mjpeg_avi_decode(data: bytes, frame_indices: list[int] | None = None):
    """AVI bytes → (frames, meta). ``frames`` is a list of HxWx3 uint8
    arrays; ``meta`` = {"w", "h", "fps", "n_frames"}. With
    ``frame_indices``, ONLY those '00dc' chunks are entropy-decoded —
    intra-only MJPEG makes frame sampling O(sampled frames), the
    property the frame-sample operator relies on."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/AVI  header missing)")
    (riff_size,) = struct.unpack("<I", data[4:8])
    end = min(8 + riff_size, len(data))

    meta = {}
    frame_chunks: list[tuple[int, int]] = []
    for fourcc, p, size in _walk_chunks(data, 12, end):
        if fourcc == b"LIST":
            ltype = data[p:p + 4]
            if ltype == b"hdrl":
                for f2, p2, s2 in _walk_chunks(data, p + 4, p + size):
                    if f2 == b"avih":
                        vals = struct.unpack("<14I", data[p2:p2 + 56])
                        meta["fps"] = round(1_000_000 / max(vals[0], 1))
                        meta["n_frames"] = vals[4]
                        meta["w"], meta["h"] = vals[8], vals[9]
                    elif f2 == b"LIST" and data[p2:p2 + 4] == b"strl":
                        for f3, p3, s3 in _walk_chunks(data, p2 + 4, p2 + s2):
                            if f3 == b"strh":
                                if data[p3:p3 + 4] != b"vids" or \
                                        data[p3 + 4:p3 + 8] != b"MJPG":
                                    raise ValueError(
                                        "only MJPG video streams supported")
            elif ltype == b"movi":
                for f2, p2, s2 in _walk_chunks(data, p + 4, p + size):
                    if f2 in (b"00dc", b"00db"):
                        frame_chunks.append((p2, s2))
    if not meta or not frame_chunks:
        raise ValueError("missing hdrl/movi")
    want = (range(len(frame_chunks)) if frame_indices is None
            else frame_indices)
    frames = []
    for i in want:
        if not 0 <= i < len(frame_chunks):
            raise ValueError(f"frame index {i} out of range")
        p2, s2 = frame_chunks[i]
        frames.append(jpeg_decode(data[p2:p2 + s2]))
    return frames, meta


def is_avi(data: bytes) -> bool:
    return data[:4] == b"RIFF" and data[8:12] == b"AVI "
