"""BMP is not a payload format: core/images dispatch rejects it, and no
other fmt sniffs a BMP payload into pixels."""
import struct

import pytest

from azuresearchcrawlervector_spark.core.images import (
    decode, encode, generate_pixels)

# well-formed 24-bit BI_RGB 1x1 BMP: one BGR pixel padded to a 4-byte
# row, equal to generate_pixels("img-bmp", 1, 1)
BMP_1X1 = (b"BM" + struct.pack("<IHHI", 58, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 2835, 2835,
                         0, 0)
           + bytes([214, 208, 156, 0]))


def test_images_dispatch_and_sniff():
    px = generate_pixels("bmp-disp", 32, 24)
    with pytest.raises(ValueError, match="unknown fmt 'bmp'"):
        encode(px, "bmp")
    with pytest.raises(ValueError, match="unknown fmt 'bmp'"):
        decode(BMP_1X1, "bmp")
    # decode dispatches on fmt, never on the bytes: a BMP payload
    # labelled as a payload format fails that format's parser
    for fmt in ("png", "jpeg"):
        with pytest.raises(ValueError):
            decode(BMP_1X1, fmt)
    # the retired qpng codec is an unknown fmt both ways
    with pytest.raises(ValueError, match="unknown fmt 'qpng'"):
        encode(px, "qpng")
    with pytest.raises(ValueError, match="unknown fmt 'qpng'"):
        decode(BMP_1X1, "qpng")
