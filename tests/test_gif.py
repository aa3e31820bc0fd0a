"""GIF codec (core/gif.py): LZW roundtrips, palettes, interlace,
animation container semantics, corruption guards, operator wiring."""
import numpy as np
import pytest

from azuresearchcrawlervector_spark.core import gif
from azuresearchcrawlervector_spark.core.images import (
    decode, encode, generate_pixels, psnr)


def _few_color(h, w, n_colors, seed=0):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    idx = rng.integers(0, n_colors, (h, w))
    return pal[idx]


def test_roundtrip_exact_few_colors():
    px = _few_color(48, 64, 5)
    data = gif.gif_encode(px)
    assert gif.is_gif(data) and data[:6] == b"GIF89a"
    assert np.array_equal(gif.gif_decode(data), px)


def test_roundtrip_exact_256_colors():
    # exactly 256 distinct colors still takes the lossless path
    px = _few_color(64, 64, 256, seed=3)
    assert len(np.unique(px.reshape(-1, 3), axis=0)) == 256
    assert np.array_equal(gif.gif_decode(gif.gif_encode(px)), px)


def test_table_growth_and_clear_codes():
    # enough entropy to grow the LZW table to 4096 and force clears
    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    px = pal[rng.integers(0, 256, (200, 200))]
    assert np.array_equal(gif.gif_decode(gif.gif_encode(px)), px)


def test_quantized_path_psnr():
    px = generate_pixels("gradient", 64, 48)  # smooth: >256 colors
    assert len(np.unique(px.reshape(-1, 3), axis=0)) > 256
    data = gif.gif_encode(px)
    out = gif.gif_decode(data)
    assert out.shape == px.shape
    p = psnr(px, out)
    assert p >= 40.0, p          # the input_hint lossy gate
    assert not np.array_equal(out, px)   # but genuinely lossy


def test_quantized_deterministic():
    px = generate_pixels("det", 32, 32)
    assert gif.gif_encode(px) == gif.gif_encode(px)


def test_interlaced_roundtrip():
    px = _few_color(37, 23, 17, seed=1)   # odd dims cross pass bounds
    data = gif.gif_encode(px, interlace=True)
    assert gif.gif_parse(data)["interlaced"]
    assert np.array_equal(gif.gif_decode(data), px)


def test_tiny_and_two_color():
    assert np.array_equal(
        gif.gif_decode(gif.gif_encode(np.zeros((1, 1, 3), np.uint8))),
        np.zeros((1, 1, 3), np.uint8))
    px = np.zeros((8, 8, 3), np.uint8)
    px[::2] = 255
    assert np.array_equal(gif.gif_decode(gif.gif_encode(px)), px)


def test_animated_frames_and_parse():
    frames = [_few_color(24, 32, 8, seed=s) for s in range(5)]
    data = gif.gif_encode_anim(frames, delay_cs=4, loop=2)
    meta = gif.gif_parse(data)
    assert meta["n_frames"] == 5
    assert meta["loop"] == 2
    assert meta["duration_cs"] == 20
    assert meta["w"] == 32 and meta["h"] == 24
    for k, f in enumerate(frames):
        assert np.array_equal(gif.gif_frame(data, k), f)
    with pytest.raises(ValueError, match="out of range"):
        gif.gif_frame(data, 5)


def test_frame_access_skips_other_frames(monkeypatch):
    # intra-only sampling: decoding frame 3 must LZW-decode exactly one
    # frame's stream
    frames = [_few_color(16, 16, 4, seed=s) for s in range(6)]
    data = gif.gif_encode_anim(frames)
    calls = []
    orig = gif._lzw_decode
    monkeypatch.setattr(gif, "_lzw_decode",
                        lambda *a: calls.append(1) or orig(*a))
    out = gif.gif_frame(data, 3)
    assert np.array_equal(out, frames[3])
    assert len(calls) == 1


def test_corruption_guards():
    px = _few_color(16, 16, 4)
    data = bytearray(gif.gif_encode(px))
    with pytest.raises(ValueError, match="not a GIF"):
        gif.gif_decode(b"NOPE" + bytes(data[4:]))
    with pytest.raises(ValueError):
        gif.gif_decode(bytes(data[:20]))       # truncated
    nolast = bytes(data[:-1])                  # missing trailer
    with pytest.raises(ValueError, match="trailer|truncated"):
        gif.gif_parse(nolast)


def test_images_dispatch():
    px = generate_pixels("img-77", 64, 48)
    data = encode(px, "gif")
    assert gif.is_gif(data)
    out = decode(data, "gif")
    assert psnr(px, out) >= 40.0


def test_truncated_image_descriptor_raises_valueerror():
    px = _few_color(16, 16, 4)
    data = gif.gif_encode(px)
    # cut inside the image descriptor (0x2C + 9 bytes)
    cut = data.index(b"\x2c", 13)
    with pytest.raises(ValueError, match="truncated"):
        gif.gif_parse(data[: cut + 4])
    with pytest.raises(ValueError, match="truncated"):
        gif.gif_decode(data[: cut + 4])


def test_gif_frames_single_walk(monkeypatch):
    frames = [_few_color(8, 8, 4, seed=s) for s in range(6)]
    data = gif.gif_encode_anim(frames)
    walks = []
    orig = gif._walk
    monkeypatch.setattr(gif, "_walk",
                        lambda d: walks.append(1) or orig(d))
    out = gif.gif_frames(data, [0, 2, 4])
    assert len(walks) == 1           # one container traversal
    for fi, px in zip([0, 2, 4], out):
        assert np.array_equal(px, frames[fi])
