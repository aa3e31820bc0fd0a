"""Image decode / validate / feature UDFs over the image+caption payload
(BASELINE.json input_hint: (image_id, bytes, w, h, fmt, caption, phash)).

Decode + per-row invariant check run in ONE Arrow batch pass:
- decode `bytes` per `fmt` (png lossless / jpeg lossy — see
  core/images.py),
- recompute the reference pixels from image_id (deterministic generator)
  and measure PSNR: the `input_hint` invariant is PSNR ≥ 40 dB for lossy
  formats, exact for lossless,
- recompute phash of the DECODED pixels for drift detection.

Caption equality is checked JVM-side (plain column comparison) — no
Python needed there.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..core.images import decode, generate_pixels, phash64, psnr

PSNR_THRESHOLD_DB = 40.0  # BASELINE.json input_hint

VALIDATE_TYPE = StructType(
    [
        StructField("ok", BooleanType()),
        StructField("dec_w", IntegerType()),
        StructField("dec_h", IntegerType()),
        StructField("psnr_db", DoubleType()),
        StructField("phash_dec", LongType()),
    ]
)


@F.pandas_udf(VALIDATE_TYPE)
def decode_validate_udf(
    image_id: pd.Series, data: pd.Series, fmt: pd.Series
) -> pd.DataFrame:
    # JPEG rows decode LANE-PARALLEL across the whole Arrow batch
    # (core/jpeg.jpeg_decode_batch — bit-identical to the scalar path,
    # amortizes the per-symbol interpreter cost over the batch); other
    # formats and legacy QPNG-magic rows stay on the scalar decoders.
    from ..core.jpeg import jpeg_decode_batch

    jpeg_ix = [i for i, (buf, f) in enumerate(zip(data, fmt))
               if f == "jpeg" and bytes(buf[:4]) != b"QPNG"]
    decoded: dict[int, object] = {}
    if jpeg_ix:
        batch = jpeg_decode_batch([bytes(data.iloc[i]) for i in jpeg_ix])
        decoded = dict(zip(jpeg_ix, batch))

    oks, ws, hs, psnrs, phashes = [], [], [], [], []
    for row_i, (iid, buf, f) in enumerate(zip(image_id, data, fmt)):
        try:
            if row_i in decoded:
                px = decoded[row_i]
                if px is None:
                    raise ValueError("jpeg decode failed")
            else:
                px = decode(buf, f)
            ref = generate_pixels(iid, px.shape[1], px.shape[0])
            p = psnr(ref, px)
            lossless = f == "png"
            ok = (p == float("inf")) if lossless else (p >= PSNR_THRESHOLD_DB)
            oks.append(bool(ok))
            hs.append(int(px.shape[0]))
            ws.append(int(px.shape[1]))
            psnrs.append(min(p, 1e9))  # inf not representable in parquet stats
            phashes.append(phash64(px))
        except Exception:
            oks.append(False)
            ws.append(None)
            hs.append(None)
            psnrs.append(None)
            phashes.append(None)
    return pd.DataFrame(
        {"ok": oks, "dec_w": ws, "dec_h": hs, "psnr_db": psnrs, "phash_dec": phashes}
    )


def with_image_validation(df, id_col="image_id", bytes_col="bytes", fmt_col="fmt"):
    v = decode_validate_udf(F.col(id_col), F.col(bytes_col), F.col(fmt_col))
    return (
        df.withColumn("_v", v)
        .withColumn("img_ok", F.col("_v.ok"))
        .withColumn("psnr_db", F.col("_v.psnr_db"))
        .withColumn("phash_dec", F.col("_v.phash_dec"))
        .drop("_v")
    )
