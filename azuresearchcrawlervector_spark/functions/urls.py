"""URL column functions.

- canonicalization is a pandas UDF over the pure kernel
  (core/urls.py — same code the oracle simulator runs);
- the 64-bit url hash is Spark's built-in ``xxhash64`` (JVM-side,
  whole-stage codegen) — seeds and discovered links alike;
- the crawlable-href shape filter (F1) is pure built-ins —
  no Python in that hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..core.urls import canonicalize as _canon
from ..core.urls import host_of as _host_of


@F.pandas_udf(StringType())
def canonicalize_udf(parent: pd.Series, href: pd.Series) -> pd.Series:
    return pd.Series(
        [_canon(p, h) for p, h in zip(parent, href)], dtype="object"
    )


@F.pandas_udf(StringType())
def host_udf(url: pd.Series) -> pd.Series:
    return url.map(_host_of, na_action="ignore")


def url_hash_col(url: Column | str) -> Column:
    """xxhash64(canonical_url) — Spark built-in, seed 42 (the north_star's
    64-bit hash)."""
    return F.xxhash64(url)


def href_is_crawlable_col(href: Column) -> Column:
    """F1 link-shape filter (HeadlessBrowserCrawler.cs:236-246) as pure
    built-ins: keep http(s):// and /-relative; drop empty, #, javascript:,
    mailto:, tel:."""
    h = F.trim(href)
    low = F.lower(h)
    return (
        href.isNotNull()
        & (h != F.lit(""))
        & ~low.startswith("#")
        & ~low.startswith("javascript:")
        & ~low.startswith("mailto:")
        & ~low.startswith("tel:")
        & (low.startswith("http://") | low.startswith("https://") | h.startswith("/"))
    )


def doc_id_col(url: Column | str) -> Column:
    """Document id = lowercase-hex SHA-512 of the URL — identical bytes to
    the reference's id scheme (Models/WebPage.cs:9-14,24)."""
    return F.sha2(F.col(url) if isinstance(url, str) else url, 512)
