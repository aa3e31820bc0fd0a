"""BMP codec (core/bmp.py)."""
import struct

import numpy as np
import pytest

from azuresearchcrawlervector_spark.core import bmp
from azuresearchcrawlervector_spark.core.images import generate_pixels


def _few_color(h, w, n_colors, seed=0):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    return pal[rng.integers(0, n_colors, (h, w))]


def test_rgb24_roundtrip_lossless_any_colors():
    px = generate_pixels("bmp-rt", 64, 48)      # >256 colors
    data = bmp.bmp_encode(px)
    assert bmp.is_bmp(data)
    assert np.array_equal(bmp.bmp_decode(data), px)


def test_rgb24_row_padding():
    # widths where w*3 is not a multiple of 4 exercise the pad logic
    for w in (1, 2, 3, 5, 7):
        px = _few_color(5, w, 6, seed=w)
        assert np.array_equal(bmp.bmp_decode(bmp.bmp_encode(px)), px)


def test_rle8_roundtrip_lossless_few_colors():
    px = _few_color(33, 21, 9, seed=2)
    data = bmp.bmp_encode(px, compression="rle8")
    meta = bmp.bmp_parse(data)
    assert meta["compression"] == "rle8" and meta["bpp"] == 8
    assert np.array_equal(bmp.bmp_decode(data), px)


def test_rle8_compresses_flat_regions():
    px = np.zeros((64, 64, 3), dtype=np.uint8)
    px[:32] = [200, 10, 10]
    rle = bmp.bmp_encode(px, compression="rle8")
    raw = bmp.bmp_encode(px, compression="rgb24")
    assert len(rle) < len(raw) / 4
    assert np.array_equal(bmp.bmp_decode(rle), px)


def test_top_down_decode():
    px = _few_color(6, 4, 3)
    data = bytearray(bmp.bmp_encode(px))
    # flip the height sign -> top-down; rows must then be read unflipped
    (h,) = struct.unpack("<i", data[22:26])
    data[22:26] = struct.pack("<i", -h)
    out = bmp.bmp_decode(bytes(data))
    assert np.array_equal(out, px[::-1])


def test_parse_and_guards():
    px = _few_color(8, 8, 4)
    data = bmp.bmp_encode(px)
    meta = bmp.bmp_parse(data)
    assert (meta["w"], meta["h"], meta["bpp"]) == (8, 8, 24)
    with pytest.raises(ValueError, match="not a BMP"):
        bmp.bmp_decode(b"XX" + data[2:])
    with pytest.raises(ValueError, match="truncated"):
        bmp.bmp_decode(data[:80])


def test_images_dispatch_and_sniff():
    from azuresearchcrawlervector_spark.core.images import (
        decode, encode)
    px = generate_pixels("bmp-disp", 32, 24)
    data = encode(px, "bmp")
    assert np.array_equal(decode(data, "bmp"), px)
