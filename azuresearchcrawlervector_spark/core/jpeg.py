"""Baseline JFIF (JPEG) codec — pure Python/numpy, no libjpeg/PIL.

Sequential baseline DCT, 8-bit, 3 components, 4:4:4 (no subsampling),
standard quantization + Huffman tables from the public JPEG standard
(ITU-T T.81 Annex K), libjpeg-compatible quality scaling. The encoder
emits a spec-compliant JFIF stream (SOI/APP0/DQT/SOF0/DHT/SOS/EOI with
0xFF byte stuffing); the decoder parses the same marker set (plus
skip-over for APPn/COM) and inverts entropy coding, dequantization,
IDCT and color conversion.

This replaces the round-1/2 ``qpng`` stand-in for the ``jpeg`` fmt
everywhere — fixtures, flagship AND the 120k-row bench — so the
PSNR ≥ 40 dB fetch invariant (BASELINE.json input_hint) always runs
against real lossy-DCT artifacts. Three decode engines, all feeding
ONE shared numpy dequant/IDCT/color tail (_assemble_rgb), so they are
bit-identical by construction:

- C kernel (default when a system compiler exists, core/cjpeg.py):
  the per-symbol Huffman loop compiled at first use — removes the
  ~1 us/symbol CPython interpreter floor outright. Measured ~5-10x
  per core over the python LUT path end-to-end at 64x48
  (BENCH/BASELINE.md "jpeg decode"); no install, graceful fallback.
- scalar LUT: numpy-prepped bitstream + 2^16 code-length LUT, one
  python list read per symbol (~1 us/symbol; see _decode_scan_lut).
- batched lanes (jpeg_decode_batch without the C kernel): one
  vectorized step advances every image by one symbol — ~2.3-2.8x
  scalar at 16x16; on 400 crawl-size 64x48 q97 images ~1.3 vs ~2.5
  ms/img, about 2x the scalar LUT (4-core x86 VM, C kernel disabled),
  which is why it stays as the decoder of hosts with no C compiler.
  >100-MCU images route back to the scalar path, and the per-bit
  engine stays as the tests' reference. The remaining production
  step-up for a JPEG-heavy corpus is swapping in libjpeg-turbo, with
  no Spark-side changes (functions/imagefn.py is codec-agnostic).
  What the engine ARCHITECTURE guarantees — pinned by the N vs 4N
  scaling bench, which runs with full decode+PSNR validation on — is
  that decode is embarrassingly parallel row work that overlaps the
  rest of the wave and scales with cores (round-4: 0.921 efficiency at
  2M URLs WITH decode dominating row cost).

Bit-exactness contract (tests/test_images.py): decode(encode(px)) ==
reconstruct(px), where reconstruct() replicates the encoder's model
(quantize → dequantize → IDCT → color) without entropy coding — i.e.
the Huffman/bitstream layer is proven to be a lossless inverse.
"""

from __future__ import annotations

import struct

import numpy as np

from . import cjpeg

# --- ITU-T T.81 Annex K.1: base quantization tables (zigzag=False, row-major)
QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

QUANT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# zigzag scan: ZIGZAG[k] = row-major index of the k-th zigzag position
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# --- Annex K.3: standard Huffman tables (bits[1..16], values)
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))

AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# orthonormal DCT-II matrix: C[u, x] = a(u) cos((2x+1) u pi / 16)
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16)
_CT = _C.T


def _canonical_codes(bits: list[int], vals: list[int]):
    """(symbol → (code, length)) per the canonical JPEG assignment."""
    assert len(bits) == 16 and sum(bits) == len(vals)
    codes = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]):
    """((length, code) → symbol) lookup for the decoder."""
    enc = _canonical_codes(bits, vals)
    return {(ln, code): sym for sym, (code, ln) in enc.items()}


_ENC_TABLES = [
    (_canonical_codes(DC_LUM_BITS, DC_LUM_VALS),
     _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)),
    (_canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS),
     _canonical_codes(AC_CHROM_BITS, AC_CHROM_VALS)),
]


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 1..100 → per-entry scale, clipped 1..255."""
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = (px[..., 0].astype(np.float64), px[..., 1].astype(np.float64),
               px[..., 2].astype(np.float64))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _to_blocks(chan: np.ndarray) -> np.ndarray:
    """(H, W) channel (H, W multiples of 8) → (n_blocks, 8, 8), row-major
    block order."""
    h, w = chan.shape
    return (chan.reshape(h // 8, 8, w // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _quantized_blocks(px: np.ndarray, quality: int):
    """Encoder model: pad → level shift → DCT → quantize. Returns
    (quantized zigzag coeffs per component [(n_blocks, 64) int32],
    padded h, padded w, quant tables)."""
    h, w = px.shape[:2]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    ycc = _rgb_to_ycbcr(px)
    padded = np.pad(ycc, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    qlum = _scaled_quant(QUANT_LUM, quality).reshape(8, 8)
    qchrom = _scaled_quant(QUANT_CHROM, quality).reshape(8, 8)
    out = []
    for c in range(3):
        qt = qlum if c == 0 else qchrom
        blocks = _to_blocks(padded[..., c] - 128.0)
        coeffs = _C @ blocks @ _CT
        q = np.round(coeffs / qt).astype(np.int32)
        out.append(q.reshape(-1, 64)[:, ZIGZAG])
    return out, ph, pw, (qlum, qchrom)


def reconstruct(px: np.ndarray, quality: int = 90) -> np.ndarray:
    """The encoder's lossy model WITHOUT entropy coding: what a correct
    decoder must produce bit-for-bit from encode(px, quality)."""
    h, w = px.shape[:2]
    comps, _ph, _pw, (qlum, qchrom) = _quantized_blocks(px, quality)
    res: list = [None]
    _assemble_rgb(
        [(0, {0: qlum.astype(np.int32), 1: qchrom.astype(np.int32)},
          [(1, 0), (2, 1), (3, 1)], h, w, np.concatenate(comps))], res)
    return res[0]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_scan(comps: list[np.ndarray]) -> bytes:
    """Interleaved 1x1 MCU scan: per MCU one block of each component."""
    bw = _BitWriter()
    n_mcus = comps[0].shape[0]
    prev_dc = [0, 0, 0]
    for mcu in range(n_mcus):
        for c in range(3):
            dc_tab, ac_tab = _ENC_TABLES[0 if c == 0 else 1]
            zz = comps[c][mcu]
            diff = int(zz[0]) - prev_dc[c]
            prev_dc[c] = int(zz[0])
            s = _category(diff)
            code, ln = dc_tab[s]
            bw.write(code, ln)
            if s:
                bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
            run = 0
            last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_tab[0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                s = _category(v)
                code, ln = ac_tab[(run << 4) | s]
                bw.write(code, ln)
                bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
                if k == last_nz:
                    break
            if last_nz < 63:
                code, ln = ac_tab[0x00]  # EOB
                bw.write(code, ln)
    return bw.flush()


def _dht_segment(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    payload = bytes([16 * tc + th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def jpeg_encode(px: np.ndarray, quality: int = 90) -> bytes:
    """HxWx3 uint8 RGB → baseline JFIF bytes."""
    assert px.ndim == 3 and px.shape[2] == 3 and px.dtype == np.uint8
    h, w = px.shape[:2]
    comps, _ph, _pw, (qlum, qchrom) = _quantized_blocks(px, quality)
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
            + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0]))
    for tq, qt in ((0, qlum), (1, qchrom)):
        payload = bytes([tq]) + bytes(int(x) for x in qt.reshape(64)[ZIGZAG])
        out += b"\xff\xdb" + struct.pack(">H", len(payload) + 2) + payload
    # SOF0: 8-bit precision, 3 components, 1x1 sampling, quant table ids
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += bytes([cid, 0x11, tq])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_segment(1, 0, AC_LUM_BITS, AC_LUM_VALS)
    out += _dht_segment(0, 1, DC_CHROM_BITS, DC_CHROM_VALS)
    out += _dht_segment(1, 1, AC_CHROM_BITS, AC_CHROM_VALS)
    sos = bytes([3])
    for cid, tabs in ((1, 0x00), (2, 0x11), (3, 0x11)):
        sos += bytes([cid, tabs])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += _encode_scan(comps)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.bit()
        return v


def _read_huff(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# --------------------------- vectorized entropy decode (round-4 item #3)
# Huffman is decoded via a 2^16-entry code-length LUT: every 16-bit
# window whose PREFIX is a canonical code maps to (symbol, code length)
# (JPEG caps code length at 16 bits, so one table-read decodes any
# symbol). The bitstream prep — stuffed-byte strip, bit unpack, the
# 16-bit sliding window array — is pure numpy; the remaining per-symbol
# loop is O(1) python-list reads per symbol (the symbol SEQUENCE is
# inherently sequential: each code's position depends on every previous
# length). ~10-30x over the per-bit _BitReader path, which is kept as
# the reference implementation and pinned equal by tests/test_images.py.
_LUT_CACHE: dict[tuple, list[int]] = {}
_LUT_ARR_CACHE: dict[tuple, np.ndarray] = {}
_LUT_CACHE_MAX = 16


def _lut16_arr(bits: list[int], vals: list[int]) -> np.ndarray:
    """Window value -> (symbol << 5) | code_length as an int32 array;
    0 = invalid prefix. Shared by the scalar (list view) and batched
    (vectorized gather) decoders."""
    key = (tuple(bits), tuple(vals))
    got = _LUT_ARR_CACHE.get(key)
    if got is None:
        packed = np.zeros(1 << 16, dtype=np.int32)
        for s, (code, length) in _canonical_codes(bits, vals).items():
            start = code << (16 - length)
            span = 1 << (16 - length)
            packed[start:start + span] = (s << 5) | length
        while len(_LUT_ARR_CACHE) >= _LUT_CACHE_MAX:
            _LUT_ARR_CACHE.pop(next(iter(_LUT_ARR_CACHE)))
        got = packed
        _LUT_ARR_CACHE[key] = got
    return got


def _lut16(bits: list[int], vals: list[int]) -> list[int]:
    """python-list view of _lut16_arr — O(1) fast reads for the scalar
    per-symbol loop."""
    key = (tuple(bits), tuple(vals))
    got = _LUT_CACHE.get(key)
    if got is None:
        while len(_LUT_CACHE) >= _LUT_CACHE_MAX:
            _LUT_CACHE.pop(next(iter(_LUT_CACHE)))
        got = _lut16_arr(bits, vals).tolist()
        _LUT_CACHE[key] = got
    return got


# Above this many scan windows (= scan bits), keep W as a numpy array:
# a python-list W costs ~36 bytes/window (list slot + int object) vs 8
# numpy — a ~1 MB entropy scan as a list is ~300 MB transient per task.
# List indexing is only ~1.5x faster per symbol, so the cap trades a
# little speed on huge images for bounded memory inside Arrow batches.
_WINDOW_LIST_MAX = 1 << 21  # 2M windows ≈ 256 KB of scan bytes


def _destuff(data: bytes, pos: int) -> np.ndarray:
    """Entropy-coded scan bytes from ``pos`` as a uint8 array: stuffed
    0x00 after 0xFF removed; the scan ends at the first real marker
    (0xFF followed by non-zero). Shared by all three engines."""
    arr = np.frombuffer(data, dtype=np.uint8)[pos:]
    marker = np.flatnonzero((arr[:-1] == 0xFF) & (arr[1:] != 0x00))
    seg = arr[:int(marker[0])] if len(marker) else arr
    stuffed = np.flatnonzero((seg[:-1] == 0xFF) & (seg[1:] == 0x00)) + 1
    if len(stuffed):
        seg = np.delete(seg, stuffed)
    return seg


def _scan_windows(data: bytes, pos: int, as_list: bool | None = None):
    """Entropy-coded scan bytes from ``pos`` → W[i] = the 16 bits
    starting at bit offset i. Returns a python list for small scans
    (fastest per-symbol indexing) and a numpy int64 array past
    ``_WINDOW_LIST_MAX`` (bounded memory)."""
    seg = _destuff(data, pos)
    bits = np.unpackbits(seg)
    n = len(bits)
    padded = np.concatenate([bits, np.zeros(32, dtype=np.uint8)])
    W = np.zeros(n + 16, dtype=np.int64)
    for j in range(16):
        W = (W << 1) | padded[j:j + n + 16]
    if as_list is None:
        as_list = len(W) <= _WINDOW_LIST_MAX
    return W.tolist() if as_list else W


def _decode_scan_lut(data: bytes, pos: int, tables: list[tuple],
                     n_mcus: int) -> list[np.ndarray]:
    """Interleaved 1x1-MCU scan decode over the window array.
    ``tables[c]`` = (dc_packed, ac_packed) LUTs ((sym<<5)|len)."""
    W = _scan_windows(data, pos)
    coeffs = [np.zeros((n_mcus, 64), dtype=np.int32) for _ in range(3)]
    idx: list[list[int]] = [[], [], []]
    val: list[list[int]] = [[], [], []]
    appends = [(idx[c].append, val[c].append) for c in range(3)]
    prev_dc = [0, 0, 0]
    p = 0
    try:
        for mcu in range(n_mcus):
            base = mcu << 6
            for c in range(3):
                dlut, alut = tables[c]
                e = dlut[W[p]]
                if e == 0:
                    raise ValueError("invalid Huffman code")
                p += e & 31
                s = e >> 5
                if s:
                    v = W[p] >> (16 - s)
                    p += s
                    prev_dc[c] += (v if v >= (1 << (s - 1))
                                   else v - (1 << s) + 1)
                ai, av = appends[c]
                ai(base)
                av(prev_dc[c])
                k = 1
                while k < 64:
                    e = alut[W[p]]
                    if e == 0:
                        raise ValueError("invalid Huffman code")
                    p += e & 31
                    rs = e >> 5
                    s = rs & 0xF
                    if s == 0:
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("AC run past block end")
                    v = W[p] >> (16 - s)
                    p += s
                    ai(base + k)
                    av(v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
                    k += 1
    except IndexError as exc:  # truncated scan
        raise ValueError("truncated entropy-coded scan") from exc
    for c in range(3):
        coeffs[c].reshape(-1)[idx[c]] = val[c]
    return coeffs


def _parse_headers(data: bytes):
    """Marker-segment parse up to (and including) SOS → (qt, huff, h, w,
    comp_spec, scan_tabs, scan_pos). Shared by the scalar and batched
    decoders."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    h = w = None
    comp_spec: list[tuple[int, int]] = []  # (component id, quant table id)
    scan_tabs: list[tuple[int, int]] = []  # (dc table id, ac table id)
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        payload = data[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT (possibly multiple tables)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zzq = np.frombuffer(payload[p + 1:p + 65], dtype=np.uint8)
                tab = np.zeros(64, dtype=np.int32)
                tab[ZIGZAG] = zzq
                qt[tq] = tab.reshape(8, 8)
                p += 65
        elif marker == 0xC0:  # SOF0 baseline
            h, w = struct.unpack(">HH", payload[1:5])
            ncomp = payload[5]
            if ncomp != 3:
                raise ValueError("only 3-component images supported")
            for c in range(3):
                cid, samp, tq = payload[6 + 3 * c:9 + 3 * c]
                if samp != 0x11:
                    raise ValueError("only 1x1 sampling supported")
                comp_spec.append((cid, tq))
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:  # DHT (possibly multiple tables)
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1:p + 17])
                nv = sum(bits)
                vals = list(payload[p + 17:p + 17 + nv])
                huff[(tc, th)] = (bits, vals)  # raw; engine builds its view
                p += 17 + nv
        elif marker == 0xDA:  # SOS — entropy data follows
            for c in range(payload[0]):
                tabs = payload[2 + 2 * c]
                scan_tabs.append((tabs >> 4, tabs & 0xF))
            pos += seglen
            break
        pos += seglen
    if h is None or not scan_tabs:
        raise ValueError("missing SOF0/SOS")
    return qt, huff, h, w, comp_spec, scan_tabs, pos


_LUT_BANK6_CACHE: dict[tuple, np.ndarray] = {}


def _lut_bank6(huff: dict, scan_tabs: list) -> np.ndarray:
    """The image's six Huffman LUTs (dc0 ac0 dc1 ac1 dc2 ac2) as ONE
    contiguous int32 array for the C kernel — cached on table content
    so the standard-table common case concatenates once per process."""
    pairs = []
    for c in range(3):
        for tc in (0, 1):
            pairs.append(huff[(tc, scan_tabs[c][tc])])
    key = tuple((tuple(b), tuple(v)) for b, v in pairs)
    got = _LUT_BANK6_CACHE.get(key)
    if got is None:
        got = np.concatenate([_lut16_arr(*bv) for bv in pairs])
        while len(_LUT_BANK6_CACHE) >= _LUT_CACHE_MAX:
            _LUT_BANK6_CACHE.pop(next(iter(_LUT_BANK6_CACHE)))
        _LUT_BANK6_CACHE[key] = got
    return got


def jpeg_decode(data: bytes, engine: str = "auto") -> np.ndarray:
    """Baseline JFIF bytes → HxWx3 uint8 RGB. Supports what jpeg_encode
    emits plus any baseline 1x1-sampled 3-component stream with its own
    DQT/DHT tables; APPn/COM segments are skipped.

    ``engine``: "auto" (default) picks the compiled C entropy kernel
    (core/cjpeg.py) when a system compiler is available and otherwise
    the vectorized window/LUT path; "c" / "lut" force those; "bitwise"
    uses the per-bit reference reader — kept for the byte-parity pin
    in tests/test_images.py. All engines are bit-identical
    (tests/test_images.py, tests/test_cjpeg.py)."""
    qt, huff, h, w, comp_spec, scan_tabs, pos = _parse_headers(data)
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    n_mcus = (ph // 8) * (pw // 8)
    if engine == "auto":
        engine = "c" if cjpeg.available() else "lut"
    if engine == "c":
        c3 = cjpeg.decode_scan(_destuff(data, pos),
                               _lut_bank6(huff, scan_tabs), n_mcus)
        coeffs = [c3[c] for c in range(3)]
    elif engine == "lut":
        tables = [
            (_lut16(*huff[(0, scan_tabs[c][0])]),
             _lut16(*huff[(1, scan_tabs[c][1])]))
            for c in range(3)
        ]
        coeffs = _decode_scan_lut(data, pos, tables, n_mcus)
    else:
        br = _BitReader(data, pos)
        dec = {k: _decode_table(*bv) for k, bv in huff.items()}
        coeffs = [np.zeros((n_mcus, 64), dtype=np.int32) for _ in range(3)]
        prev_dc = [0, 0, 0]
        for mcu in range(n_mcus):
            for c in range(3):
                dct, act = dec[(0, scan_tabs[c][0])], dec[(1, scan_tabs[c][1])]
                zz = coeffs[c][mcu]
                s = _read_huff(br, dct)
                diff = _extend(br.bits(s), s) if s else 0
                prev_dc[c] += diff
                zz[0] = prev_dc[c]
                k = 1
                while k < 64:
                    rs = _read_huff(br, act)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += r
                    zz[k] = _extend(br.bits(s), s)
                    k += 1
    res: list = [None]
    _assemble_rgb(
        [(0, qt, comp_spec, h, w, np.concatenate(coeffs))], res)
    return res[0]



# ------------------- batched (lane-parallel) decode (round-5 item #3)
# The symbol SEQUENCE of one scan is inherently serial — but a decode
# batch holds many INDEPENDENT scans. The batched decoder keeps one
# lane per image and advances EVERY lane by one Huffman symbol per
# python iteration through vectorized gathers over a concatenated
# 32-bit-window array, so the interpreted per-symbol cost is amortized
# across the whole Arrow batch (~N lanes per step instead of 1).
#
# Design notes that keep the step cheap (~25 vector ops, 2 gathers,
# 1 scatter):
# - 32-bit windows: ONE gather yields the Huffman code (top 16 bits
#   feed the LUT) AND the value bits (code ≤ 16 + category ≤ 15 bits
#   ≤ 31 fits the window), so there is no second positional read.
# - unified DC/AC path: one flattened LUT-bank gather selected by a
#   per-lane current-slot scalar; DC vs AC semantics differ only in a
#   few np.where masks.
# - fully compact state: lanes that finish or fail are compacted out,
#   so late iterations cost O(still-active), and per-lane state is
#   flat scalars (the DC predictor for the CURRENT component only;
#   the per-component store is touched only at block transitions,
#   ~1/15 of symbols).
# - failure redirection: invalid codes / run-overruns / truncated
#   scans never branch the hot path — the write index is redirected
#   to a trash slot and the lane's position is pushed past its window
#   region, so the normal end-of-region sweep retires it.
# Iteration count = max symbols over the batch; output is BIT-
# IDENTICAL to jpeg_decode per image (pinned by tests/test_images.py).
_BATCH_MAX_WINDOWS = 1 << 24  # bitstream entries/sub-batch (~128 MB)
_BATCH_MAX_COEFF = 1 << 24    # coefficient slots/sub-batch (int32, ~64 MB
                              # — the cache-friendly sweet spot: ~900
                              # 64x48 lanes/sub-batch; bigger thrashes)
# Measured crossover (see BENCH/BASELINE.md "jpeg decode"): the lane
# decoder amortizes interpreter overhead across images, which wins on
# SMALL images (~2.3x at 16x16, ~1.5x at 32x24, parity at 64x48) but
# loses past ~100 MCUs where per-image vector ops already dominate —
# route those to the scalar LUT path so batch decode is never slower.
_BATCH_SCALAR_MCUS = 100
# C-kernel batch assembly flush budget, in 64-coeff blocks. The IDCT +
# color-convert tail is pure vector math either way; what matters is
# that the flush group's intermediates (int32 coeffs + ~4 float32
# copies) stay cache-resident. Measured on 64x48 crawl-size images:
# ~0.17 ms/img at 1-5K blocks vs 0.33 ms/img flushing 100K blocks
# (30-90 MB intermediates thrash L2/L3), and per-image flushing pays
# ~10% python overhead. 4096 blocks ≈ 1 MB coeffs ≈ 28 images at
# 64x48 — flat-optimal at both bench sizes.
_ASSEMBLE_FLUSH_BLOCKS = 4096


def _scan_u40(data: bytes, pos: int) -> tuple[np.ndarray, int]:
    """Entropy-coded scan bytes from ``pos`` → (U, n_bits) where
    U[j] = the 40 bits starting at BYTE j (as int64, so the 32-bit
    window at bit position p is ``(U[p >> 3] >> (8 - (p & 7))) &
    0xFFFFFFFF``) and n_bits = real scan bits (reads at ≥ n_bits mean
    truncation). One int64 per scan BYTE — 8x less memory than a
    per-bit window array, which is what lets thousands of lanes share
    one concatenated array."""
    seg = _destuff(data, pos)
    B = np.zeros(len(seg) + 8, dtype=np.uint64)
    B[:len(seg)] = seg
    U = ((B[:-4] << np.uint64(32)) | (B[1:-3] << np.uint64(24))
         | (B[2:-2] << np.uint64(16)) | (B[3:-1] << np.uint64(8)) | B[4:])
    return U.astype(np.int64), len(seg) * 8


_DECODE_LUT_CACHE: dict[tuple, np.ndarray] = {}


def _lut16_decode_arr(bits: list[int], vals: list[int],
                      is_ac: bool) -> np.ndarray:
    """Decode-ready LUT for the lane decoder: every per-symbol decision
    the hot loop would otherwise branch on is folded into the entry at
    BUILD time — tot(0:5) = code+value bits advance, s(5:9) = value
    category, kadv(9:17) = zigzag-index advance (run+1 / 16 for ZRL /
    127 for EOB / 1 for DC), wof(17:24) = write offset within the
    128-slot padded block (run for a real coefficient, 64 = the pad
    region for EOB/ZRL so the unconditional scatter lands in scratch).
    Entry 0 = invalid prefix."""
    key = (is_ac, tuple(bits), tuple(vals))
    got = _DECODE_LUT_CACHE.get(key)
    if got is not None:
        return got
    e = _lut16_arr(bits, vals).astype(np.int64)
    valid = e != 0
    L = e & 31
    sym = e >> 5
    if is_ac:
        s = sym & 15
        run = sym >> 4
        zrl = valid & (s == 0) & (run == 15)
        eob = valid & (s == 0) & (run != 15)   # scalar treats s==0,r!=15 as EOB
        kadv = np.where(eob, 127, np.where(zrl, 16, run + 1))
        wof = np.where(eob | zrl, 64, run)
    else:
        s = np.minimum(sym, 15)
        kadv = np.ones_like(e)
        wof = np.zeros_like(e)
    packed = np.where(
        valid, (L + s) | (s << 5) | (kadv << 9) | (wof << 17), 0)
    while len(_DECODE_LUT_CACHE) >= _LUT_CACHE_MAX:
        _DECODE_LUT_CACHE.pop(next(iter(_DECODE_LUT_CACHE)))
    _DECODE_LUT_CACHE[key] = packed
    return packed


def _decode_lanes(Ucat, uoffs, n_bits, banks_flat, dc_slots, ac_slots,
                  n_mcus_a, img_bases, coeff_flat) -> np.ndarray:
    """Advance all lanes to completion over the shared 40-bit-per-byte
    array. Returns per-lane failed flags (invalid code / truncated
    scan / AC run past block end)."""
    n = len(uoffs)
    ok = np.zeros(n, dtype=bool)  # completed all MCUs cleanly
    # compact per-lane state; p is the lane's bit position RELATIVE to
    # its own scan start, uoff its absolute byte offset into Ucat
    lane = np.arange(n)
    p = np.zeros(n, dtype=np.int64)
    uoff = uoffs.astype(np.int64).copy()
    wend = n_bits.astype(np.int64).copy()
    nm = n_mcus_a.astype(np.int64).copy()
    ibase = img_bases.astype(np.int64).copy()
    dcs = dc_slots.astype(np.int64).copy()     # (m, 3)
    acs = ac_slots.astype(np.int64).copy()
    comp = np.zeros(n, dtype=np.int64)
    mcu = np.zeros(n, dtype=np.int64)
    k = np.zeros(n, dtype=np.int64)
    isac = np.zeros(n, dtype=bool)
    cur_dc = np.zeros(n, dtype=np.int64)
    dcstore = np.zeros((n, 3), dtype=np.int64)
    cur_dcslot = dcs[:, 0].copy()
    cur_acslot = acs[:, 0].copy()
    base = ibase.copy()  # flat offset of current block
    # lanes with zero MCUs are vacuously complete
    keep = nm > 0
    ok[lane[~keep]] = True
    (lane, p, uoff, wend, nm, ibase, dcs, acs, comp, mcu, k, isac,
     cur_dc, dcstore, cur_dcslot, cur_acslot, base) = (
        a[keep] for a in (lane, p, uoff, wend, nm, ibase, dcs, acs,
                          comp, mcu, k, isac, cur_dc, dcstore,
                          cur_dcslot, cur_acslot, base))

    while len(lane):
        w = (Ucat[uoff + (p >> 3)] >> (8 - (p & 7))) & 0xFFFFFFFF
        e = banks_flat[np.where(isac, cur_acslot, cur_dcslot)
                       * 65536 + (w >> 16)]
        tot = e & 31
        s = (e >> 5) & 15
        vmask = (np.int64(1) << s) - 1
        v = (w >> (32 - tot)) & vmask
        half = (vmask + 1) >> 1                 # 1<<(s-1); 0 when s==0
        val = np.where(v >= half, v, v - vmask)
        wof = (e >> 17) & 127
        dead = (e == 0) | ((k + wof > 63) & (wof < 64))  # bad code/overrun
        cur_dc = cur_dc + np.where(isac, 0, val)
        coeff_flat[base + k + wof] = np.where(isac, val, cur_dc)  # int32 cast
        k = k + ((e >> 9) & 255)
        p = np.where(dead, wend, p + tot)       # dead lanes retire below
        blk_end = (k >= 64) & ~dead
        isac = ~blk_end
        retire = p >= wend
        if blk_end.any() or retire.any():
            t = np.flatnonzero(blk_end)
            dcstore[t, comp[t]] = cur_dc[t]
            comp[t] += 1
            roll = t[comp[t] == 3]
            comp[roll] = 0
            mcu[roll] += 1
            finished = mcu[t] >= nm[t]
            ok[lane[t[finished]]] = True
            ct = comp[t]
            cur_dc[t] = dcstore[t, ct]
            cur_dcslot[t] = dcs[t, ct]
            cur_acslot[t] = acs[t, ct]
            base[t] = ibase[t] + (ct * nm[t] + mcu[t]) * 128
            k[t] = 0
            keep = ~retire
            keep[t[finished]] = False
            if not keep.all():
                (lane, p, uoff, wend, nm, ibase, dcs, acs, comp, mcu, k,
                 isac, cur_dc, dcstore, cur_dcslot, cur_acslot, base) = (
                    a[keep] for a in (lane, p, uoff, wend, nm, ibase,
                                      dcs, acs, comp, mcu, k, isac,
                                      cur_dc, dcstore, cur_dcslot,
                                      cur_acslot, base))
    return ~ok


def jpeg_decode_batch(datas: list[bytes],
                      max_windows: int = _BATCH_MAX_WINDOWS) -> list:
    """Decode a batch of baseline JFIF images lane-parallel. Returns one
    HxWx3 uint8 array per input, or None where that image failed to
    decode (bad headers / invalid code / truncated scan) — per-image
    isolation, a corrupt image never affects its batch. Memory is
    bounded by ``max_windows`` concatenated bitstream entries (one per
    scan byte, 8 bytes each) and ``_BATCH_MAX_COEFF`` coefficient slots
    per sub-batch; oversize single images fall back to the scalar
    decoder. When the compiled C entropy kernel is available it
    replaces the lane decoder outright (same numpy assembly tail,
    bit-identical output, ~2 orders of magnitude faster per symbol)."""
    if cjpeg.available():
        return _decode_batch_c(datas)
    out: list = [None] * len(datas)
    metas = []  # (i, qt, huff, comp_spec, scan_tabs, h, w, U, n_bits, nm)
    for i, data in enumerate(datas):
        try:
            data = bytes(data)
            qt, huff, h, w, comp_spec, scan_tabs, pos = _parse_headers(data)
            U, n_bits = _scan_u40(data, pos)
            ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
            nm = (ph // 8) * (pw // 8)
            if (nm > _BATCH_SCALAR_MCUS or len(U) > max_windows
                    or 3 * nm * 128 > _BATCH_MAX_COEFF):
                out[i] = jpeg_decode(data)  # big image: scalar is faster
                continue
            metas.append((i, qt, huff, comp_spec, scan_tabs, h, w, U,
                          n_bits, nm))
        except Exception:
            out[i] = None

    # sub-batch by bitstream + coefficient budget
    start = 0
    while start < len(metas):
        end, tot, totc = start, 0, 0
        while end < len(metas) and (
                end == start
                or (tot + len(metas[end][7]) <= max_windows
                    and totc + 3 * metas[end][9] * 128 <= _BATCH_MAX_COEFF)):
            tot += len(metas[end][7])
            totc += 3 * metas[end][9] * 128
            end += 1
        _decode_subbatch(metas[start:end], out)
        start = end
    return out


def _decode_batch_c(datas: list) -> list:
    """C-kernel batch decode: entropy decode per image in compiled
    code (core/cjpeg.py), dequant/IDCT/assembly through the shared
    vectorized tail. Per-image isolation as in the lane path (a bad
    image yields None, never affects its batch); flushes the assembly
    tail at the CACHE-RESIDENT block budget (_ASSEMBLE_FLUSH_BLOCKS —
    entropy decode is compiled here, so assembly is the dominant tail
    and runs fastest when each flush group's intermediates fit L2/L3),
    which also bounds concat memory regardless of batch size."""
    out: list = [None] * len(datas)
    items: list = []
    blocks_pending = 0
    max_blocks = _ASSEMBLE_FLUSH_BLOCKS
    for i, data in enumerate(datas):
        try:
            data = bytes(data)
            qt, huff, h, w, comp_spec, scan_tabs, pos = _parse_headers(data)
            ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
            nm = (ph // 8) * (pw // 8)
            c3 = cjpeg.decode_scan(_destuff(data, pos),
                                   _lut_bank6(huff, scan_tabs), nm)
            items.append((i, qt, comp_spec, h, w, c3.reshape(3 * nm, 64)))
            blocks_pending += 3 * nm
        except Exception:
            out[i] = None
        if blocks_pending >= max_blocks:
            _assemble_rgb(items, out)
            items, blocks_pending = [], 0
    _assemble_rgb(items, out)
    return out


def _decode_subbatch(metas, out) -> None:
    n = len(metas)
    if n == 0:
        return
    # LUT bank: distinct tables in the sub-batch, flattened for 1-D gather
    bank_ix: dict[tuple, int] = {}
    bank_list = []
    dc_slots = np.zeros((n, 3), dtype=np.int64)
    ac_slots = np.zeros((n, 3), dtype=np.int64)
    uoffs = np.zeros(n, dtype=np.int64)
    n_bits_a = np.zeros(n, dtype=np.int64)
    n_mcus_a = np.zeros(n, dtype=np.int64)
    img_bases = np.zeros(n, dtype=np.int64)
    Us, u_off, c_off = [], 0, 0
    ok_lane = np.ones(n, dtype=bool)
    for li, (_i, _qt, huff, _cs, scan_tabs, _h, _w, U, n_bits,
             nm) in enumerate(metas):
        try:
            for c in range(3):
                for tc, slots in ((0, dc_slots), (1, ac_slots)):
                    bv = huff[(tc, scan_tabs[c][tc])]
                    key = (tc,) + tuple(bv[0]) + tuple(bv[1])
                    if key not in bank_ix:
                        bank_ix[key] = len(bank_list)
                        bank_list.append(
                            _lut16_decode_arr(*bv, is_ac=tc == 1))
                    slots[li, c] = bank_ix[key]
        except KeyError:
            ok_lane[li] = False
        uoffs[li] = u_off
        n_bits_a[li] = n_bits
        n_mcus_a[li] = nm if ok_lane[li] else 0
        img_bases[li] = c_off
        Us.append(U)
        u_off += len(U)
        c_off += 3 * nm * 128   # 128-slot padded blocks (see decode LUT)
    Ucat = np.concatenate(Us) if Us else np.zeros(0, dtype=np.int64)
    coeff_flat = np.zeros(c_off, dtype=np.int32)
    banks_flat = (np.concatenate(bank_list)
                  if bank_list else np.zeros(1 << 16, dtype=np.int64))
    failed = _decode_lanes(Ucat, uoffs, n_bits_a, banks_flat, dc_slots,
                           ac_slots, n_mcus_a, img_bases, coeff_flat)
    failed |= ~ok_lane

    good = np.flatnonzero(~failed)
    if not len(good):
        return
    items = []
    for li in good:
        i, qt, _huff, comp_spec, _st, h, w, _W, _nb, nm = metas[li]
        cf = coeff_flat[img_bases[li]:img_bases[li] + 3 * nm * 128]
        items.append((i, qt, comp_spec, h, w, cf.reshape(-1, 128)[:, :64]))
    _assemble_rgb(items, out)


_CF = None  # float32 IDCT bases, built lazily (after _C is defined)
_CTF = None


def _assemble_rgb(items: list, out: list) -> None:
    """Shared decode tail for ALL engines (scalar lut/bitwise/C, lane
    batch, C batch) and for reconstruct(): ``items`` = (i, qt,
    comp_spec, h, w, blocks64) with blocks64 = (3 * n_mcus, 64) int32
    ZIGZAG coeffs, component-major. float32 throughout: dequant runs
    in the zigzag domain (coeff * step <= 2047 * 255 < 2^24, so the
    products are EXACT in float32), the IDCT as batched per-block
    (n,8,8) matmuls — per-block deterministic, unlike one big SGEMM
    whose summation order varies with matrix height — and color
    conversion PLANAR with in-place rint/clip. Every decode path and
    reconstruct() share this exact code, so the decode==reconstruct
    bit-contract holds by construction. Component planes bucket by
    quant table so a uniform crawl batch runs ~2 vector passes."""
    global _CF, _CTF
    if not items:
        return
    if _CF is None:
        _CF, _CTF = _C.astype(np.float32), _CT.astype(np.float32)
    # bucket component planes by quant table -> one vector pass each
    by_qt: dict[bytes, list] = {}
    pos = 0
    for _i, qt, comp_spec, _h, _w, blocks64 in items:
        nm = blocks64.shape[0] // 3
        for c in range(3):
            tab = qt[comp_spec[c][1]]
            by_qt.setdefault(tab.tobytes(), [tab, []])[1].append(
                (pos, blocks64[c * nm:(c + 1) * nm]))
            pos += nm
    PX = np.empty((pos, 64), dtype=np.float32)
    for tab, lst in by_qt.values():
        qzig = np.empty(64, dtype=np.float32)
        qzig[UNZIGZAG] = tab.reshape(64)  # quant step per ZIGZAG slot
        Y = np.concatenate([b for _s, b in lst]).astype(np.float32)
        Y *= qzig                         # exact: products < 2^24
        B = Y[:, UNZIGZAG].reshape(-1, 8, 8)
        R = (_CTF @ B @ _CF).reshape(-1, 64)
        o = 0
        for s, b in lst:
            PX[s:s + len(b)] = R[o:o + len(b)]
            o += len(b)
    # group by shape for vectorized planar assembly + color convert
    groups: dict[tuple, list] = {}
    b0 = 0
    for i, _qt, _cs, h, w, blocks64 in items:
        groups.setdefault((h, w), []).append((i, b0))
        b0 += blocks64.shape[0]
    for (h, w), members in groups.items():
        ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
        nm = (ph // 8) * (pw // 8)
        sel = np.concatenate(
            [np.arange(b0, b0 + 3 * nm) for _i, b0 in members])
        n = len(members)
        P = (PX[sel].reshape(n, 3, ph // 8, pw // 8, 8, 8)
             .transpose(0, 1, 2, 4, 3, 5).reshape(n, 3, ph, pw))
        y = P[:, 0] + np.float32(128.0)
        cb, cr = P[:, 1], P[:, 2]
        r = y + np.float32(1.402) * cr
        g = y - np.float32(0.344136) * cb - np.float32(0.714136) * cr
        b = y + np.float32(1.772) * cb
        rgb = np.empty((n, ph, pw, 3), dtype=np.uint8)
        for ci, ch in enumerate((r, g, b)):
            np.rint(ch, out=ch)
            np.clip(ch, 0, 255, out=ch)
            rgb[..., ci] = ch
        for m, (i, _b0) in enumerate(members):
            out[i] = rgb[m, :h, :w]
