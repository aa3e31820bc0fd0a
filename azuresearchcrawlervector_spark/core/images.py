"""Image codecs + metrics for the image+caption payload (pure Python/numpy).

The container has no PIL/libjpeg, so:

- ``png``: a real, spec-compliant PNG codec (zlib + struct; 8-bit RGB,
  filter 0). Output decodes in any standard viewer. Lossless.
- ``jpeg``: a REAL baseline JFIF codec (core/jpeg.py — sequential DCT,
  standard Annex K quant/Huffman tables, 4:4:4). The fixture/flagship
  paths use it, so the PSNR ≥ 40 dB invariant runs against genuine
  lossy-DCT artifacts. Decode sniffs the legacy ``QPNG`` magic for
  artifacts written by earlier builds.
- ``qpng``: a deterministic cheap LOSSY codec (pixels quantized to step
  4 then PNG-encoded). No fixture or bench row produces it any more (the
  bench's lossy half is real JPEG); it stays as the legacy format that
  ``decode(..., "jpeg")`` reads from earlier builds. A production
  deployment swaps core/jpeg.py for libjpeg-turbo with no Spark-side
  changes (functions/imagefn.py is codec-agnostic).

Any other ``fmt`` (TIFF, GIF, BMP, ...) raises ValueError, which the
image-validation UDF records as img_ok=false.

Also here: PSNR and an 8x8 average perceptual hash (phash) used for the
per-row fetch invariant, and the deterministic pixel generator that
synthesizes image content from image_id (seed-stable, FIXTURES.md §1).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
QUANT_STEP = 4  # qpng quantization step (drops 2 LSBs)


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """8-bit RGB HxWx3 uint8 array → PNG bytes (filter type 0 per row)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = pixels.reshape(h, w * 3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes → HxWx3 uint8. Supports what png_encode emits plus
    filters 0-4 (full spec for 8-bit RGB, single IDAT stream)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bitdepth, colortype = struct.unpack(">IIBB", payload[:10])
            if bitdepth != 8 or colortype != 2:
                raise ValueError("only 8-bit RGB supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    raw = zlib.decompress(idat)
    stride = w * 3
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, line = row[0], np.frombuffer(row[1:], dtype=np.uint8).astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub/Average/Paeth need sequential scan
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad filter {ftype}")
                cur[x] = (line[x] + pred) & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, 3)


def qpng_encode(pixels: np.ndarray) -> bytes:
    """Deterministic lossy codec: quantize to step 4, then PNG-encode."""
    q = (pixels.astype(np.int32) // QUANT_STEP * QUANT_STEP).astype(np.uint8)
    return b"QPNG" + png_encode(q)


def qpng_decode(data: bytes) -> np.ndarray:
    if data[:4] != b"QPNG":
        raise ValueError("not a QPNG")
    return png_decode(data[4:])


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(pixels)
    if fmt == "jpeg":
        from .jpeg import jpeg_encode
        # quality 97: worst-case roundtrip PSNR ≈ 41.5 dB on the
        # synthetic fixture images — the input_hint invariant is
        # PSNR ≥ 40 for lossy formats, so the quality must clear it
        # with the loss still being real (quality 90 measures ~36-40)
        return jpeg_encode(pixels, quality=97)
    if fmt == "qpng":
        return qpng_encode(pixels)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(data: bytes, fmt: str) -> np.ndarray:
    data = bytes(data)
    if fmt == "png":
        return png_decode(data)
    if fmt == "jpeg":
        # artifacts written by earlier builds used the qpng stand-in
        # under the jpeg fmt — sniff the magic for compatibility
        if data[:4] == b"QPNG":
            return qpng_decode(data)
        from .jpeg import jpeg_decode
        return jpeg_decode(data)
    if fmt == "qpng":
        return qpng_decode(data)
    raise ValueError(f"unknown fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def phash64(pixels: np.ndarray) -> int:
    """8x8 average-hash over the grayscale image → signed int64.

    Block-mean downsample to 8x8, threshold at the mean, pack 64 bits
    row-major MSB-first. Stable under the qpng quantization loss.
    Vectorized: two reduceat passes + packbits (hot path of the image
    validation UDF — called once per fetched row).
    """
    gray = pixels.astype(np.float64).sum(axis=2)  # 3x luminance, scale-free
    h, w = gray.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    col = np.add.reduceat(gray, ys, axis=0)
    blocks = np.add.reduceat(col, xs, axis=1)
    # normalize by true block areas (uneven when 8 ∤ h or 8 ∤ w)
    hcnt = np.diff(np.append(ys, h))
    wcnt = np.diff(np.append(xs, w))
    blocks = blocks / (hcnt[:, None] * wcnt[None, :])
    bits = (blocks > blocks.mean()).flatten()
    val = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return val - (1 << 64) if val >= (1 << 63) else val


from functools import lru_cache


@lru_cache(maxsize=8)
def _grid(w: int, h: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cached normalized coordinate grids + gradient base per (w, h) —
    the bench generates/validates millions of same-size images, so the
    grid math is hoisted out of the per-image path."""
    yy, xx = np.mgrid[0:h, 0:w]
    xn = xx / w
    yn = yy / h
    grad = xx / max(w - 1, 1) * 64 + yy / max(h - 1, 1) * 64
    return xn, yn, grad


def generate_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic HxWx3 pixels from image_id (seed-stable, no RNG state).

    Smooth gradients + a seeded sinusoid so images are non-trivial but
    bit-reproducible everywhere (driver, executor, simulator).
    """
    seed = zlib.crc32(image_id.encode("utf-8"))
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, size=3)
    fx, fy = rng.uniform(0.5, 4.0, size=2)
    xn, yn, grad = _grid(w, h)
    phase = 2 * np.pi * (fx * xn + fy * yn)
    out = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        wave = 127.5 + 60.0 * np.sin(phase + c)
        out[:, :, c] = np.clip(
            wave + grad * ((c + 1) / 3) + float(base[c]) * 0.25, 0, 255
        ).astype(np.uint8)
    return out
