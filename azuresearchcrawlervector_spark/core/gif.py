"""GIF codec — from scratch, stdlib + numpy only (CompuServe GIF87a/89a).

Scope (all REAL, no codec library):
- decode: header + logical screen descriptor, global/local color
  tables, interlaced and non-interlaced frames, GIF89a extension
  blocks (graphic control, comment, application — incl. NETSCAPE2.0
  loop), full variable-width LZW decompression with clear/EOI codes
  and the 12-bit table cap.
- encode: single-frame and animated GIF89a. Exact palette when the
  image has ≤ 256 distinct colors (lossless roundtrip); otherwise a
  deterministic frequency-weighted median-cut palette with exact
  nearest-color assignment — LOSSY but byte-reproducible, measuring
  40-44 dB on the synthetic fixture images (the jpeg PSNR gate).
- per-frame random access (`gif_frame`): frames are independently
  LZW-coded (intra-only), so reading frame k walks the block
  structure O(total bytes) but only DECOMPRESSES frame k.

Not carried (documented): transparency compositing and partial-frame
disposal — every frame is treated as a full-canvas replacement, which
is exactly what the animated writer emits. Pixels are HxWx3 uint8 RGB,
matching core/images.py.

Reference parity note: the reference crawler hands image bytes to a
vision-capable indexer without decoding (AzureSearchIndexer.cs); the
decode path here is the Spark-side validation this repo adds.
"""
from __future__ import annotations

import struct

import numpy as np

_SIG87 = b"GIF87a"
_SIG89 = b"GIF89a"

# deinterlace pass structure: (row offset, row step)
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


# ------------------------------------------------------------------ LZW
def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> np.ndarray:
    """Variable-width GIF-LZW → palette-index array (length n_pixels)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # bit reader: GIF packs codes LSB-first into a byte stream
    buf = np.frombuffer(data, dtype=np.uint8)
    acc = 0
    acc_bits = 0
    pos = 0
    width = min_code_size + 1
    # table: list of byte strings; entries 0..clear-1 are literals
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    prev: bytes | None = None
    while len(out) < n_pixels:
        while acc_bits < width:
            if pos >= len(buf):
                raise ValueError("gif: LZW stream truncated")
            acc |= int(buf[pos]) << acc_bits
            acc_bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        acc_bits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
            if not entry and code >= clear:
                raise ValueError("gif: LZW reference to empty slot")
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError("gif: LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < n_pixels:
        raise ValueError("gif: LZW output short of pixel count")
    return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)


def _lzw_encode(min_code_size: int, indices: np.ndarray) -> bytes:
    """Palette-index array → GIF-LZW bytes (sub-block framing NOT
    applied here — see _sub_blocks)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    acc_bits = 0
    width = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, acc_bits
        acc |= code << acc_bits
        acc_bits += width
        while acc_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            acc_bits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    seq = b""
    data = indices.astype(np.uint8).tobytes()
    for b in data:
        cand = seq + bytes([b])
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        if next_code < 4096:
            table[cand] = next_code
            # width grows when the NEXT code to assign needs more bits
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        seq = bytes([b])
    if seq:
        emit(table[seq])
    emit(eoi)
    if acc_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _sub_blocks(data: bytes) -> bytes:
    """Frame a byte stream into ≤255-byte GIF sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _read_sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("gif: sub-blocks truncated")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        chunk = data[pos : pos + n]
        if len(chunk) != n:
            raise ValueError("gif: sub-block truncated")
        out += chunk
        pos += n


def _skip_sub_blocks(data: bytes, pos: int) -> int:
    while True:
        if pos >= len(data):
            raise ValueError("gif: sub-blocks truncated")
        n = data[pos]
        pos += 1
        if n == 0:
            return pos
        pos += n


# ------------------------------------------------------------- palette
def _exact_palette(px: np.ndarray) -> tuple[np.ndarray, np.ndarray] | None:
    """(palette (n,3), indices (h,w)) when ≤256 distinct colors, else
    None. Palette order is lexicographic → deterministic."""
    flat = px.reshape(-1, 3)
    packed = (flat[:, 0].astype(np.uint32) << 16) | (
        flat[:, 1].astype(np.uint32) << 8) | flat[:, 2]
    colors, inverse = np.unique(packed, return_inverse=True)
    if len(colors) > 256:
        return None
    pal = np.stack([(colors >> 16) & 0xFF, (colors >> 8) & 0xFF,
                    colors & 0xFF], axis=1).astype(np.uint8)
    return pal, inverse.reshape(px.shape[:2]).astype(np.uint16)


def _median_cut(flat: np.ndarray, n: int = 256) -> np.ndarray:
    """Deterministic median-cut palette over DISTINCT colors weighted
    by frequency: repeatedly split the box with the largest
    spread·√count on its widest channel at the (stable-sorted) median.
    ~40-44 dB on the smooth synthetic fixtures vs ~27 dB for a fixed
    uniform 252-color grid."""
    colors, counts = np.unique(flat, axis=0, return_counts=True)
    colors = colors.astype(np.int64)

    def score(b: np.ndarray) -> float:
        if len(b) < 2:
            return -1.0
        spread = int((colors[b].max(0) - colors[b].min(0)).max())
        return spread * float(np.sqrt(counts[b].sum()))

    boxes = [np.arange(len(colors))]
    scores = [score(boxes[0])]
    while len(boxes) < n:
        bi = int(np.argmax(scores))
        if scores[bi] <= 0:
            break
        b = boxes.pop(bi)
        scores.pop(bi)
        ch = int((colors[b].max(0) - colors[b].min(0)).argmax())
        order = np.argsort(colors[b][:, ch], kind="stable")
        half = len(b) // 2
        for part in (b[order[:half]], b[order[half:]]):
            boxes.append(part)
            scores.append(score(part))
    pal = np.array(
        [np.round((colors[b] * counts[b, None]).sum(0) / counts[b].sum())
         for b in boxes],
        dtype=np.uint8)
    # lexicographic palette order → byte-deterministic output
    pal = pal[np.lexsort((pal[:, 2], pal[:, 1], pal[:, 0]))]
    return pal


def _nearest_index(flat: np.ndarray, pal: np.ndarray,
                   chunk: int = 1 << 16) -> np.ndarray:
    """Exact nearest-palette-entry assignment, chunked so the
    (chunk, n_pal, 3) distance broadcast stays cache/memory bounded."""
    p = pal.astype(np.int32)
    out = np.empty(len(flat), dtype=np.uint16)
    for i in range(0, len(flat), chunk):
        d = ((flat[i : i + chunk, None, :].astype(np.int32) - p[None]) ** 2
             ).sum(-1)
        out[i : i + chunk] = d.argmin(1)
    return out


def _quantize(px: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic lossy quantization: median-cut palette + exact
    nearest assignment. PSNR depends on the image's color complexity
    (a 256-color palette cannot bound worst-case error); on the
    repo's synthetic fixture images it measures 40-44 dB."""
    flat = px.reshape(-1, 3)
    pal = _median_cut(flat)
    return pal, _nearest_index(flat, pal).reshape(px.shape[:2])


# -------------------------------------------------------------- encode
def _palette_block(pal: np.ndarray) -> tuple[bytes, int]:
    """Pad palette to a power-of-two size ≥2; returns (bytes, size_bits)."""
    n = len(pal)
    size_bits = max(1, (max(n, 2) - 1).bit_length())
    padded = np.zeros((1 << size_bits, 3), dtype=np.uint8)
    padded[:n] = pal
    return padded.tobytes(), size_bits


def _interlace_order(h: int) -> np.ndarray:
    rows = []
    for off, step in _INTERLACE_PASSES:
        rows.extend(range(off, h, step))
    return np.asarray(rows, dtype=np.int64)


def gif_encode(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """HxWx3 uint8 → single-frame GIF89a. Lossless when the image has
    ≤256 distinct colors; deterministic median-cut quantization
    (lossy, PSNR-gated downstream) otherwise."""
    return gif_encode_anim([pixels], interlace=interlace)


def gif_encode_anim(frames: list[np.ndarray], delay_cs: int = 10,
                    loop: int = 0, interlace: bool = False) -> bytes:
    """Frames (each HxWx3 uint8, same shape) → animated GIF89a with a
    NETSCAPE2.0 loop block and per-frame graphic control extensions.
    Every frame is a FULL-canvas image (disposal 1) and independently
    LZW-coded → intra-only random access for gif_frame.

    A single shared palette is used either way: exact when the union
    of all frames' colors fits 256, else one median-cut palette over
    the union (so frames quantize consistently)."""
    if not frames:
        raise ValueError("gif: no frames")
    h, w = frames[0].shape[:2]
    for f in frames:
        if f.shape != frames[0].shape:
            raise ValueError("gif: frames must share one shape")
    stacked = np.concatenate([f.reshape(-1, 3) for f in frames])
    exact = _exact_palette(stacked.reshape(1, -1, 3))
    if exact is not None:
        pal, all_idx = exact
        idx_frames = [
            all_idx.reshape(-1)[k * h * w : (k + 1) * h * w].reshape(h, w)
            for k in range(len(frames))
        ]
    else:
        # one shared median-cut palette over the union of all frames
        pal = _median_cut(stacked)
        idx_frames = [
            _nearest_index(f.reshape(-1, 3), pal).reshape(h, w)
            for f in frames
        ]
    pal_bytes, size_bits = _palette_block(pal)
    out = bytearray()
    out += _SIG89
    # logical screen descriptor: global table, 8 bits/channel
    out += struct.pack("<HHBBB", w, h,
                       0x80 | (7 << 4) | (size_bits - 1), 0, 0)
    out += pal_bytes
    if len(frames) > 1:
        # NETSCAPE2.0 application extension: loop count (0 = forever)
        out += b"\x21\xff\x0bNETSCAPE2.0"
        out += bytes([3, 1]) + struct.pack("<H", loop) + b"\x00"
    mcs = max(2, size_bits)
    for idx in idx_frames:
        if len(frames) > 1:
            # graphic control: disposal 1 (leave), no transparency
            out += b"\x21\xf9\x04" + bytes([1 << 2])
            out += struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0])
        rows = idx[_interlace_order(h)] if interlace else idx
        out += bytes([mcs])
        out += _sub_blocks(_lzw_encode(mcs, rows.reshape(-1)))
    out += b"\x3b"
    return bytes(out)


# -------------------------------------------------------------- decode
def is_gif(data: bytes) -> bool:
    return data[:6] in (_SIG87, _SIG89)


def _parse_header(data: bytes):
    if not is_gif(data):
        raise ValueError("not a GIF")
    if len(data) < 13:
        raise ValueError("gif: header truncated")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n],
                            dtype=np.uint8).reshape(n, 3)
        if len(gct) != n:
            raise ValueError("gif: global color table truncated")
        pos += 3 * n
    return w, h, gct, pos


def _walk(data: bytes):
    """Yield ('frame', pos_of_image_descriptor) / ('ext', label, pos)
    events without decompressing anything."""
    _w, _h, _gct, pos = _parse_header(data)
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            return
        if b == 0x21:  # extension
            if pos + 2 > len(data):
                raise ValueError("gif: extension truncated")
            label = data[pos + 1]
            body_at = pos + 2
            pos = _skip_sub_blocks(data, body_at)
            yield ("ext", body_at, label)
            continue
        if b == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                raise ValueError("gif: image descriptor truncated")
            yield ("frame", pos, None)
            _x, _y, fw, fh, flags = struct.unpack(
                "<HHHHB", data[pos + 1 : pos + 10])
            pos += 10
            if flags & 0x80:
                pos += 3 * (2 << (flags & 0x07))
            pos += 1  # LZW min code size
            pos = _skip_sub_blocks(data, pos)
            continue
        raise ValueError(f"gif: unknown block 0x{b:02x}")
    raise ValueError("gif: missing trailer")


def _decode_frame_at(data: bytes, pos: int, gct: np.ndarray | None,
                     canvas_w: int, canvas_h: int) -> np.ndarray:
    if pos + 10 > len(data):
        raise ValueError("gif: image descriptor truncated")
    x, y, fw, fh, flags = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
    pos += 10
    table = gct
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        table = np.frombuffer(data[pos : pos + 3 * n],
                              dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    if table is None:
        raise ValueError("gif: frame has no color table")
    if x + fw > canvas_w or y + fh > canvas_h:
        raise ValueError("gif: frame exceeds canvas")
    mcs = data[pos]
    pos += 1
    if not 2 <= mcs <= 11:
        raise ValueError("gif: bad LZW min code size")
    lzw, _pos = _read_sub_blocks(data, pos)
    idx = _lzw_decode(mcs, lzw, fw * fh).reshape(fh, fw)
    if int(idx.max(initial=0)) >= len(table):
        raise ValueError("gif: pixel index outside color table")
    if flags & 0x40:  # interlaced: rows arrive in pass order
        out = np.empty_like(idx)
        out[_interlace_order(fh)] = idx
        idx = out
    return table[idx]


def gif_decode(data: bytes) -> np.ndarray:
    """First frame → HxWx3 uint8 (full-canvas frames assumed, as the
    encoder here writes)."""
    return gif_frame(data, 0)


def gif_frame(data: bytes, frame_idx: int) -> np.ndarray:
    """Decode ONLY frame `frame_idx`: the block walk skips other
    frames' sub-blocks without LZW-decompressing them (intra-only)."""
    return gif_frames(data, [frame_idx])[0]


def gif_frames(data: bytes, frame_indices: list[int]) -> list[np.ndarray]:
    """Decode a set of frames in ONE container walk — only the wanted
    frames are LZW-decompressed; everything else is skipped at the
    sub-block level. Results follow frame_indices order."""
    data = bytes(data)
    w, h, gct, _pos = _parse_header(data)
    want = set(frame_indices)
    decoded: dict[int, np.ndarray] = {}
    k = 0
    for kind, pos, _ in _walk(data):
        if kind != "frame":
            continue
        if k in want:
            decoded[k] = _decode_frame_at(data, pos, gct, w, h)
            if len(decoded) == len(want):
                break
        k += 1
    missing = sorted(want - set(decoded))
    if missing:
        raise ValueError(
            f"gif: frame {missing[0]} out of range ({k} frames)")
    return [decoded[i] for i in frame_indices]


def gif_parse(data: bytes) -> dict:
    """Container metadata without decoding pixel data: canvas size,
    frame count + rects, version, loop count, total delay."""
    data = bytes(data)
    w, h, gct, _pos = _parse_header(data)
    n_frames = 0
    rects = []
    loop = None
    delay_cs = 0
    interlaced = False
    for kind, pos, label in _walk(data):
        if kind == "frame":
            n_frames += 1
            x, y, fw, fh, flags = struct.unpack(
                "<HHHHB", data[pos + 1 : pos + 10])
            rects.append((x, y, fw, fh))
            interlaced = interlaced or bool(flags & 0x40)
        elif label == 0xF9 and pos + 5 <= len(data):
            delay_cs += struct.unpack("<H", data[pos + 2 : pos + 4])[0]
        elif label == 0xFF:
            body, _ = _read_sub_blocks(data, pos)
            if body[:11] == b"NETSCAPE2.0" and len(body) >= 14:
                loop = struct.unpack("<H", body[12:14])[0]
    return {
        "w": w, "h": h, "version": data[3:6].decode("ascii"),
        "n_frames": n_frames, "frame_rects": rects,
        "global_palette": 0 if gct is None else len(gct),
        "loop": loop, "duration_cs": delay_cs, "interlaced": interlaced,
    }
