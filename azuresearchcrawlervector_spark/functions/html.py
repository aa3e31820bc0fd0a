"""HTML extraction UDF: one Arrow-batched pass per page producing
title + cleaned text + the ordered link list (T1/T2 + F5/F6 semantics,
TextExtractor.cs:19-72 / AbotCrawler.cs:68-88). Parsing happens ONCE per
page, and the same pass resolves each link against the page URL (J4,
``core.urls.canonicalize``/``host_of``): a link carries its raw ``href``
plus its canonical ``url`` and ``host``, both NULL where the F1 shape
filter (``href_is_crawlable``) rejects the href. Downstream link handling
is pure built-ins (explode/filter) — the crawl crosses the Python UDF
boundary once per page, not once more per link.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.htmlkit import extract_body_html, extract_page
from ..core.urls import canonicalize, host_of, href_is_crawlable

LINK_TYPE = StructType(
    [
        StructField("href", StringType()),
        StructField("link_pos", IntegerType()),
        StructField("in_selector", BooleanType()),
        StructField("url", StringType()),
        StructField("host", StringType()),
    ]
)

EXTRACT_TYPE = StructType(
    [
        StructField("title", StringType()),
        StructField("content", StringType()),
        StructField("links", ArrayType(LINK_TYPE)),
    ]
)


def _link(page_url: str | None, href: str, pos: int, in_sel: bool) -> dict:
    url = canonicalize(page_url, href) if href_is_crawlable(href) else None
    return {"href": href, "link_pos": pos, "in_selector": in_sel,
            "url": url, "host": host_of(url)}


@F.pandas_udf(EXTRACT_TYPE)
def extract_page_udf(html: pd.Series, selector: pd.Series,
                     page_url: pd.Series) -> pd.DataFrame:
    titles, contents, links = [], [], []
    for doc, sel, base in zip(html, selector, page_url):
        t, c, ls = extract_page(doc, sel if isinstance(sel, str) and sel else None)
        base = base if isinstance(base, str) else None
        titles.append(t)
        contents.append(c)
        links.append([_link(base, h, p, s) for h, p, s in ls])
    return pd.DataFrame({"title": titles, "content": contents, "links": links})


def with_extraction(df, html_col: str = "html", selector: str | None = None):
    """df + (title, content, links) columns from one parse pass. Links
    resolve against the frame's ``url`` column when it has one; without
    it only absolute hrefs get a ``url``."""
    page_url = (F.col("url") if "url" in df.columns
                else F.lit(None).cast("string"))
    ext = extract_page_udf(F.col(html_col), F.lit(selector), page_url)
    return (
        df.withColumn("_ext", ext)
        .withColumn("title", F.col("_ext.title"))
        .withColumn("content", F.col("_ext.content"))
        .withColumn("links", F.col("_ext.links"))
        .drop("_ext")
    )


@F.pandas_udf(StringType())
def raw_body_udf(html: pd.Series) -> pd.Series:
    """T3 raw-HTML mode: inner HTML of <body>, scripts kept
    (TextExtractor.cs:45-48; test TextExtractorTests.cs:109-119)."""
    return html.map(extract_body_html, na_action="ignore")


def clean_whitespace_col(text: Column) -> Column:
    """The reference's whitespace collapse (TextExtractor.cs:74-80) as pure
    built-ins, for text already extracted: [\\r\\n]+ → ' ', [ \\t]+ → ' ', trim."""
    return F.trim(F.regexp_replace(F.regexp_replace(text, r"[\r\n]+", " "), r"[ \t]+", " "))
