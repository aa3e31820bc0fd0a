"""Header-only image metadata (sniff_image) + the pre-decode
validation operators (image_metadata_table, validate_image_headers)."""
import numpy as np
import pytest

from azuresearchcrawlervector_spark.core.images import (
    encode, generate_pixels, sniff_image)


@pytest.mark.parametrize("fmt", ["png", "jpeg", "qpng", "gif"])
def test_sniff_all_formats(fmt):
    px = generate_pixels(f"sniff-{fmt}", 64, 48)
    m = sniff_image(encode(px, fmt))
    assert m["fmt"] == fmt
    assert (m["w"], m["h"]) == (64, 48)
    assert m["bit_depth"] == 8
    assert m["channels"] == 3


def test_sniff_reads_header_only():
    # header bytes are enough — no pixel decode happens (PNG/GIF need
    # <100 bytes; JPEG's SOF sits after the DQT/DHT tables, ~1 KB)
    px = generate_pixels("hdr", 64, 48)
    for fmt, n in (("png", 100), ("gif", 100), ("jpeg", 1024)):
        m = sniff_image(encode(px, fmt)[:n])
        assert (m["w"], m["h"]) == (64, 48), fmt


def test_sniff_rejects_garbage_and_truncation():
    with pytest.raises(ValueError, match="unrecognized"):
        sniff_image(b"\x00" * 64)
    with pytest.raises(ValueError):
        sniff_image(encode(generate_pixels("t", 8, 8), "png")[:12])
    # jpeg with the SOF cut off
    jp = encode(generate_pixels("t", 8, 8), "jpeg")
    with pytest.raises(ValueError, match="jpeg"):
        sniff_image(jp[:4])
    # well-formed 64x48 headers of formats decode() does not accept are
    # rejected like garbage, not given a metadata-only fmt
    others = {
        "tiff": (b"II*\x00\x08\x00\x00\x00\x02\x00"
                 b"\x00\x01\x03\x00\x01\x00\x00\x00\x40\x00\x00\x00"
                 b"\x01\x01\x03\x00\x01\x00\x00\x00\x30\x00\x00\x00"
                 b"\x00\x00\x00\x00"),
        "webp": (b"RIFF\x11\x00\x00\x00WEBPVP8L\x05\x00\x00\x00"
                 b"\x2f\x3f\xc0\x0b\x00"),
    }
    for hdr in others.values():
        with pytest.raises(ValueError, match="unrecognized"):
            sniff_image(hdr)


def _catalog(spark, rows):
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string")


def test_image_metadata_table(spark):
    from azuresearchcrawlervector_spark.operators.multimodal import (
        image_metadata_table)
    px = generate_pixels("m1", 32, 16)
    df = _catalog(spark, [
        ("a", bytearray(encode(px, "png")), 32, 16, "png"),
        ("b", bytearray(encode(px, "jpeg")), 32, 16, "jpeg"),
        ("c", bytearray(b"\xde\xad\xbe\xef" * 8), 32, 16, "png"),
    ])
    got = {r["image_id"]: r.asDict()
           for r in image_metadata_table(df).collect()}
    assert got["a"]["fmt_sniffed"] == "png" and got["a"]["header_ok"]
    assert (got["a"]["w"], got["a"]["h"]) == (32, 16)
    assert got["b"]["fmt_sniffed"] == "jpeg" and got["b"]["header_ok"]
    assert not got["c"]["header_ok"] and got["c"]["fmt_sniffed"] is None


def test_validate_image_headers(spark):
    from azuresearchcrawlervector_spark.operators.multimodal import (
        validate_image_headers)
    px = generate_pixels("v1", 24, 24)
    good = bytearray(encode(px, "png"))
    df = _catalog(spark, [
        ("ok", good, 24, 24, "png"),
        ("wrong_dims", good, 99, 24, "png"),     # catalog lies about w
        ("wrong_fmt", good, 24, 24, "jpeg"),     # catalog lies about fmt
        ("corrupt", bytearray(b"junk" * 10), 24, 24, "png"),
    ])
    out = validate_image_headers(df)
    assert set(out.columns) == {"image_id", "bytes", "w", "h", "fmt",
                                "meta_ok"}
    got = {r["image_id"]: r["meta_ok"] for r in out.collect()}
    assert got == {"ok": True, "wrong_dims": False,
                   "wrong_fmt": False, "corrupt": False}


def test_null_bytes_row_is_statistic_not_abort(spark):
    from azuresearchcrawlervector_spark.operators.multimodal import (
        image_metadata_table)
    px = generate_pixels("n1", 8, 8)
    df = _catalog(spark, [
        ("good", bytearray(encode(px, "png")), 8, 8, "png"),
        ("nullrow", None, 8, 8, "png"),
    ])
    got = {r["image_id"]: r["header_ok"]
           for r in image_metadata_table(df).collect()}
    assert got == {"good": True, "nullrow": False}


def test_jpeg_sniff_tolerates_fill_bytes_and_rst():
    # spec-legal 0xFF fill padding between segments must not derail
    # the marker walk
    jp = encode(generate_pixels("f", 16, 16), "jpeg")
    assert jp[2] == 0xFF
    padded = jp[:2] + b"\xff\xff" + jp[2:]
    m = sniff_image(padded)
    assert (m["fmt"], m["w"], m["h"]) == ("jpeg", 16, 16)
