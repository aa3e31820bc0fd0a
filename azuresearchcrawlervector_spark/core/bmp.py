"""BMP codec — Windows DIB (BITMAPINFOHEADER), stdlib + numpy only.

Scope (all REAL):
- decode: 24-bit BGR and 8-bit paletted, bottom-up and top-down rows,
  BI_RGB (uncompressed) and BI_RLE8 (run-length, incl. delta and
  absolute modes), 4-byte row padding.
- encode: 24-bit BI_RGB (lossless, the interchange default) and
  8-bit BI_RLE8 via the same exact/median-cut palettes as the GIF
  encoder (lossless when ≤256 distinct colors).

One of the still-image formats the repo carries from scratch (PNG,
JPEG, GIF, BMP); like GIF it is part of the beyond-reference
multimodal family.
"""
from __future__ import annotations

import struct

import numpy as np

_HDR = 14       # BITMAPFILEHEADER
_INFO = 40      # BITMAPINFOHEADER


def is_bmp(data: bytes) -> bool:
    return data[:2] == b"BM"


def bmp_encode(pixels: np.ndarray, compression: str = "rgb24") -> bytes:
    """HxWx3 uint8 → BMP. 'rgb24' is always lossless; 'rle8' palettizes
    first (exact ≤256 colors, else deterministic median-cut — the GIF
    encoder's quantizer) then run-length encodes."""
    h, w, c = pixels.shape
    if c != 3 or pixels.dtype != np.uint8:
        raise ValueError("bmp_encode expects HxWx3 uint8")
    if compression == "rgb24":
        stride = (w * 3 + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
        body = rows.tobytes()
        off = _HDR + _INFO
        info = struct.pack("<IiiHHIIiiII", _INFO, w, h, 1, 24, 0,
                           len(body), 2835, 2835, 0, 0)
        return (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
                + info + body)
    if compression != "rle8":
        raise ValueError(f"unknown bmp compression {compression!r}")
    from .gif import _exact_palette, _median_cut, _nearest_index
    exact = _exact_palette(pixels)
    if exact is not None:
        pal, idx = exact
    else:
        pal = _median_cut(pixels.reshape(-1, 3))
        idx = _nearest_index(pixels.reshape(-1, 3), pal).reshape(h, w)
    idx = idx.astype(np.uint8)
    body = bytearray()
    for row in idx[::-1]:                       # bottom-up
        x = 0
        row = row.tolist()
        while x < w:
            run = 1
            while x + run < w and run < 255 and row[x + run] == row[x]:
                run += 1
            body += bytes([run, row[x]])
            x += run
        body += b"\x00\x00"                     # end of line
    body += b"\x00\x01"                         # end of bitmap
    pal_bytes = bytearray()
    for r, g, b in pal.tolist():
        pal_bytes += bytes([b, g, r, 0])        # BGRX quads
    pal_bytes += b"\x00" * (4 * (256 - len(pal)))
    off = _HDR + _INFO + 1024
    info = struct.pack("<IiiHHIIiiII", _INFO, w, h, 1, 8, 1,
                       len(body), 2835, 2835, 256, 0)
    return (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
            + info + bytes(pal_bytes) + bytes(body))


def bmp_parse(data: bytes) -> dict:
    data = bytes(data)
    if not is_bmp(data) or len(data) < _HDR + _INFO:
        raise ValueError("not a BMP")
    (isz, w, h, _planes, bpp, comp) = struct.unpack(
        "<IiiHHI", data[_HDR : _HDR + 20])
    if isz < _INFO:
        raise ValueError("bmp: pre-BITMAPINFOHEADER DIBs unsupported")
    return {"w": w, "h": abs(h), "top_down": h < 0, "bpp": bpp,
            "compression": {0: "rgb", 1: "rle8", 2: "rle4"}.get(
                comp, f"unknown({comp})")}


def _decode_rle8(data: bytes, w: int, h: int) -> np.ndarray:
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i = 0
    while i + 1 < len(data):
        n, v = data[i], data[i + 1]
        i += 2
        if n:                                   # encoded run
            out[y, x : min(x + n, w)] = v
            x = min(x + n, w)
            continue
        if v == 0:                              # end of line
            x, y = 0, y + 1
            if y >= h:
                break
        elif v == 1:                            # end of bitmap
            return out
        elif v == 2:                            # delta
            if i + 1 >= len(data):
                raise ValueError("bmp: RLE delta truncated")
            x = min(x + data[i], w)
            y = min(y + data[i + 1], h - 1)
            i += 2
        else:                                   # absolute mode, padded
            chunk = data[i : i + v]
            if len(chunk) != v:
                raise ValueError("bmp: RLE absolute run truncated")
            take = min(v, w - x)
            out[y, x : x + take] = np.frombuffer(chunk[:take], np.uint8)
            x += take
            i += (v + 1) & ~1
    return out


def bmp_decode(data: bytes) -> np.ndarray:
    """BMP bytes → HxWx3 uint8 RGB."""
    data = bytes(data)
    meta = bmp_parse(data)
    w, h, top_down = meta["w"], meta["h"], meta["top_down"]
    (isz,) = struct.unpack("<I", data[_HDR : _HDR + 4])
    (off,) = struct.unpack("<I", data[10:14])
    (n_colors,) = struct.unpack("<I", data[_HDR + 32 : _HDR + 36])
    if meta["bpp"] == 24:
        if meta["compression"] != "rgb":
            raise ValueError("bmp: compressed 24-bit unsupported")
        stride = (w * 3 + 3) & ~3
        need = stride * h
        raw = data[off : off + need]
        if len(raw) < need:
            raise ValueError("bmp: pixel data truncated")
        rows = np.frombuffer(raw, np.uint8).reshape(h, stride)
        img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR→RGB
        return (img if top_down else img[::-1]).copy()
    if meta["bpp"] != 8:
        raise ValueError(f"bmp: {meta['bpp']}-bit unsupported")
    pal_at = _HDR + isz
    n = n_colors or 256
    quads = np.frombuffer(data[pal_at : pal_at + 4 * n], np.uint8)
    if len(quads) != 4 * n:
        raise ValueError("bmp: palette truncated")
    pal = quads.reshape(n, 4)[:, 2::-1]         # BGRX → RGB
    if meta["compression"] == "rle8":
        idx = _decode_rle8(data[off:], w, h)
    elif meta["compression"] == "rgb":
        stride = (w + 3) & ~3
        raw = data[off : off + stride * h]
        if len(raw) < stride * h:
            raise ValueError("bmp: pixel data truncated")
        idx = np.frombuffer(raw, np.uint8).reshape(h, stride)[:, :w]
    else:
        raise ValueError("bmp: unsupported compression for 8-bit")
    if int(idx.max(initial=0)) >= n:
        raise ValueError("bmp: pixel index outside palette")
    img = pal[idx]
    return (img if top_down else img[::-1]).copy()
