"""GIF is not a payload format: core/images dispatch rejects it on both
sides, so a GIF row is flagged img_ok=false (test_images.py) instead of
being decoded."""
import struct

import pytest

from azuresearchcrawlervector_spark.core.images import (
    decode, encode, generate_pixels)

# well-formed 1x1 GIF89a: 2-entry global palette, one LZW-coded index-0
# pixel whose colour is generate_pixels("img-gif", 1, 1)
GIF_1X1 = (b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0xF0, 0, 0)
           + bytes([139, 189, 202]) + bytes(3)
           + b"," + struct.pack("<4HB", 0, 0, 1, 1, 0)
           + b"\x02\x02\x44\x01\x00;")


def test_images_dispatch():
    px = generate_pixels("img-77", 64, 48)
    with pytest.raises(ValueError, match="unknown fmt 'gif'"):
        encode(px, "gif")
    with pytest.raises(ValueError, match="unknown fmt 'gif'"):
        decode(GIF_1X1, "gif")
