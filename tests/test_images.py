"""Image codec + per-row fetch invariant (BASELINE.json input_hint:
decoded-pixel allclose / PSNR ≥ 40 dB lossy, caption equality)."""

import struct
import warnings

import numpy as np
from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.core.images import (
    decode, encode, generate_pixels, phash64, png_decode, png_encode, psnr,
)
from azuresearchcrawlervector_spark.functions.imagefn import with_image_validation
from azuresearchcrawlervector_spark.sources.fixtures import (
    test_website as website1_graph,
)
from azuresearchcrawlervector_spark.sources.synthetic import images_df


def test_png_lossless_roundtrip():
    px = generate_pixels("img-roundtrip", 37, 23)  # odd dims
    assert np.array_equal(png_decode(png_encode(px)), px)


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_phash_stable_under_quantization():
    # borderline blocks may flip under the JPEG quantization loss —
    # phash comparisons are hamming-distance comparisons, not equality
    px = generate_pixels("img-phash", 32, 24)
    assert hamming64(phash64(px), phash64(decode(encode(px, "jpeg"),
                                                 "jpeg"))) <= 2


def test_phash_values_pinned():
    # at least 8 px each way every block has its own rows and columns:
    # these hashes (fixture sizes 32x24 and 64x48, plus edge shapes)
    # must never change
    want = [("img-a", 32, 24, 1235826020518686619),
            ("img-b", 32, 24, 518062652256085791),
            ("img-a", 64, 48, 1370951532806369211),
            ("img-b", 64, 48, 517921897590023999),
            ("img-c", 8, 8, 6953561188147919075),
            ("img-c", 9, 13, -1116891577483002655),
            ("img-d", 37, 23, -8207415542725788185),
            ("img-d", 33, 17, 1015956493021158775)]
    for iid, w, h, ph in want:
        assert phash64(generate_pixels(iid, w, h)) == ph, (iid, w, h)


def test_phash_small_images_no_warning():
    # under 8 px a block start repeats: no division by a zero count
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for w, h in ((1, 1), (1, 20), (4, 20), (7, 7)):
            ph = phash64(generate_pixels("img-small", w, h))
            assert -(1 << 63) <= ph < (1 << 63)


def test_pixel_generation_deterministic():
    a = generate_pixels("img-x", 16, 16)
    b = generate_pixels("img-x", 16, 16)
    c = generate_pixels("img-y", 16, 16)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_decode_validate_udf(spark):
    g = website1_graph()
    imgs = images_df(spark, g)
    validated = with_image_validation(imgs)
    rows = validated.select("image_id", "fmt", "img_ok", "psnr_db", "phash_dec", "phash").collect()
    assert len(rows) == len(g.pages)
    for r in rows:
        assert r["img_ok"], r["image_id"]
        if r["fmt"] == "jpeg":
            assert 40.0 <= r["psnr_db"] < 60.0
        else:
            assert r["psnr_db"] >= 1e8  # lossless sentinel
        # stored phash (of original pixels) vs decoded-pixel phash:
        # identical up to quantization-borderline bits
        assert hamming64(r["phash_dec"], r["phash"]) <= 2, r["image_id"]


def test_corrupt_bytes_flagged_not_crashing(spark):
    # img-tiff, img-gif and img-bmp are well-formed 1x1 files whose one
    # pixel is exactly generate_pixels(image_id, 1, 1): none of them is
    # a payload format, so each is flagged without a decode, like garbage
    ifd = [(256, 4, 1, 1), (257, 4, 1, 1), (258, 3, 3, 12), (259, 3, 1, 1),
           (262, 3, 1, 2), (273, 4, 1, 8), (277, 3, 1, 3), (278, 4, 1, 64),
           (279, 4, 1, 3)]
    tiff = (b"II*\x00" + struct.pack("<I", 18) + b"\xb9\xbe\xb8\x00"
            + struct.pack("<3HH", 8, 8, 8, len(ifd))
            + b"".join(struct.pack("<HHII", *e) for e in ifd) + bytes(4))
    # GIF89a: 2-entry global palette, one LZW-coded index-0 pixel
    gif = (b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0xF0, 0, 0)
           + bytes([139, 189, 202]) + bytes(3)
           + b"," + struct.pack("<4HB", 0, 0, 1, 1, 0)
           + b"\x02\x02\x44\x01\x00;")
    # 24-bit BI_RGB: one BGR pixel padded to a 4-byte row
    bmp = (b"BM" + struct.pack("<IHHI", 58, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 2835, 2835,
                         0, 0)
           + bytes([214, 208, 156, 0]))
    # the retired qpng codec (quantized PNG behind a QPNG magic), which
    # reads within PSNR 40 of its image: no longer a format, nor a
    # payload the jpeg parser accepts
    def qpng(iid):
        px = generate_pixels(iid, 16, 16)
        return bytearray(b"QPNG" + png_encode(px // 4 * 4))

    df = spark.createDataFrame(
        [("img-bad", bytearray(b"garbage"), "png"),
         ("img-tiff", bytearray(tiff), "tiff"),
         ("img-gif", bytearray(gif), "gif"),
         ("img-bmp", bytearray(bmp), "bmp"),
         ("img-qpng", qpng("img-qpng"), "qpng"),
         ("img-qpng-jpeg", qpng("img-qpng-jpeg"), "jpeg")],
        "image_id string, bytes binary, fmt string",
    )
    rows = {r["image_id"]: r for r in with_image_validation(df).collect()}
    for iid in ("img-bad", "img-tiff", "img-gif", "img-bmp", "img-qpng",
                "img-qpng-jpeg"):
        assert rows[iid]["img_ok"] is False
        assert rows[iid]["psnr_db"] is None


# ------------------------------------------------------------ real JPEG
def test_jpeg_bitstream_is_exact_inverse_of_model():
    """The decoder must invert entropy coding + dequant + IDCT + color
    BIT-FOR-BIT against the encoder's lossy model (reconstruct() — the
    same quant/IDCT path minus the Huffman/bitstream layer). Pins the
    whole bitstream layer as lossless, including odd (non-multiple-of-8)
    sizes that exercise edge padding."""
    from azuresearchcrawlervector_spark.core.jpeg import (
        jpeg_decode, jpeg_encode, reconstruct,
    )

    rng = np.random.default_rng(5)
    cases = [generate_pixels("img-a", 32, 24),
             generate_pixels("img-b", 33, 17),
             rng.integers(0, 256, size=(40, 56, 3), dtype=np.uint8),
             np.zeros((8, 8, 3), dtype=np.uint8),
             np.full((16, 8, 3), 255, dtype=np.uint8)]
    for q in (50, 90, 97):
        for px in cases:
            dec = jpeg_decode(jpeg_encode(px, q))
            assert np.array_equal(dec, reconstruct(px, q))


def test_jpeg_marker_structure_and_psnr():
    from azuresearchcrawlervector_spark.core.jpeg import (
        jpeg_decode, jpeg_encode,
    )

    px = generate_pixels("img-struct", 32, 24)
    buf = jpeg_encode(px, 97)
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"  # SOI/EOI
    assert buf[2:4] == b"\xff\xe0" and buf[6:11] == b"JFIF\x00"
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in buf, marker
    dec = jpeg_decode(buf)
    assert dec.shape == px.shape
    p = psnr(px, dec)
    assert 40.0 <= p < 60.0, p  # real loss, above the invariant
    # higher quality → strictly better fidelity on a non-trivial image
    p90 = psnr(px, jpeg_decode(jpeg_encode(px, 90)))
    assert p > p90


def test_jpeg_error_paths_and_legacy_qpng_sniff():
    import pytest

    from azuresearchcrawlervector_spark.core.jpeg import (
        jpeg_decode, jpeg_encode,
    )

    px = generate_pixels("img-e", 16, 16)
    with pytest.raises(ValueError):
        jpeg_decode(b"\x00\x01not a jpeg")
    buf = bytearray(jpeg_encode(px, 90))
    buf[3] = 0xC2  # pretend progressive SOF2
    # APP0 rewritten as SOF2 → progressive unsupported, clear error
    with pytest.raises(ValueError):
        jpeg_decode(bytes(buf))
    # the QPNG magic older builds wrote under fmt="jpeg" is not sniffed:
    # those bytes fail the jpeg parser
    with pytest.raises(ValueError):
        decode(b"QPNG" + png_encode(px // 4 * 4), "jpeg")
    # and real jpeg bytes under fmt="jpeg" decode via the real codec
    assert psnr(px, decode(jpeg_encode(px, 97), "jpeg")) >= 40.0


def test_jpeg_lut_decoder_parity_with_bitwise():
    """Round-4 #3: the vectorized window/LUT entropy decoder is pinned
    byte-identical to the per-bit reference reader across sizes and
    qualities (incl. non-multiple-of-8 dims and random content that
    exercises ZRL/EOB/long-code paths)."""
    import numpy as np

    from azuresearchcrawlervector_spark.core.images import generate_pixels
    from azuresearchcrawlervector_spark.core.jpeg import (
        jpeg_decode, jpeg_encode,
    )

    rng = np.random.default_rng(99)
    cases = [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
             for h, w in [(8, 8), (17, 23), (32, 24), (64, 48)]]
    cases += [generate_pixels(f"img-{i}", 64, 48) for i in range(3)]
    for px in cases:
        for q in (35, 90, 97):
            buf = jpeg_encode(px, q)
            assert np.array_equal(jpeg_decode(buf, engine="lut"),
                                  jpeg_decode(buf, engine="bitwise"))


def test_jpeg_batch_decoder_bit_identical_and_isolating():
    """Round-5 #3: the lane-parallel batch decoder is pinned
    bit-identical to jpeg_decode per image across mixed sizes (incl.
    >100-MCU images routed to the scalar path), qualities, and random
    content; corrupt entries fail in ISOLATION (None) without
    disturbing their batchmates."""
    import numpy as np

    from azuresearchcrawlervector_spark.core.images import generate_pixels
    from azuresearchcrawlervector_spark.core.jpeg import (
        jpeg_decode, jpeg_decode_batch, jpeg_encode,
    )

    rng = np.random.default_rng(77)
    cases = [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
             for h, w in [(8, 8), (17, 23), (32, 24), (64, 48), (128, 96)]]
    cases += [generate_pixels(f"b-{i}", 64, 48) for i in range(5)]
    datas, refs = [], []
    for i, px in enumerate(cases):
        buf = jpeg_encode(px, (35, 90, 97)[i % 3])
        datas.append(buf)
        refs.append(jpeg_decode(buf))
    # corrupt entries interleaved: truncated scan, garbage markers
    datas.insert(3, datas[0][:40])
    datas.insert(7, b"\xff\xd8garbage")
    refs.insert(3, None)
    refs.insert(7, None)
    out = jpeg_decode_batch(datas)
    for o, r in zip(out, refs):
        if r is None:
            assert o is None
        else:
            assert o is not None and np.array_equal(o, r)


def test_jpeg_batch_udf_path_matches_scalar(spark):
    """with_image_validation rides the batch decoder for jpeg rows —
    same ok/psnr/phash as the scalar decode for real artifacts, ok=False
    for corrupt ones."""
    import numpy as np

    from azuresearchcrawlervector_spark.core.images import generate_pixels
    from azuresearchcrawlervector_spark.core.jpeg import jpeg_encode
    from azuresearchcrawlervector_spark.functions.imagefn import (
        with_image_validation,
    )

    rows = []
    for i in range(6):
        iid = f"jb-{i}"
        rows.append((iid, bytearray(jpeg_encode(
            generate_pixels(iid, 64, 48), 97)), "jpeg"))
    rows.append(("jb-bad", bytearray(b"\xff\xd8nope"), "jpeg"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: r for r in with_image_validation(df).collect()}
    for i in range(6):
        assert got[f"jb-{i}"]["img_ok"] is True
        assert got[f"jb-{i}"]["psnr_db"] >= 40.0
    assert got["jb-bad"]["img_ok"] is False
