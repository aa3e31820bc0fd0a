"""Pseudo-embedding pandas UDF — the deterministic stand-in for the
reference's two Azure OpenAI calls per page (AzureSearchIndexer.cs:185-191).
Input is truncated to 8,000 chars inside the kernel (the reference embeds
the truncated text but stores full content — same here)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from ..core.embed import DEFAULT_DIM, pseudo_embed


def make_dual_embed_udf(dim: int = DEFAULT_DIM):
    """(title, content) → struct(title_vector, content_vector) in ONE
    Arrow pass — the reference embeds both per page
    (AzureSearchIndexer.cs:185-191); fusing them halves the UDF
    round-trips of the (large) content column."""
    from pyspark.sql.types import StructField, StructType

    vec = ArrayType(FloatType(), containsNull=False)
    out_t = StructType([
        StructField("title_vector", vec),
        StructField("content_vector", vec),
    ])

    @F.pandas_udf(out_t)
    def dual_embed_udf(title: pd.Series, content: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({
            "title_vector": [pseudo_embed(t, dim).tolist() for t in title],
            "content_vector": [pseudo_embed(c, dim).tolist() for c in content],
        })

    return dual_embed_udf
