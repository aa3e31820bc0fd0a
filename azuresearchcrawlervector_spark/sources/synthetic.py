"""Spark DataFrame builders for the synthetic fixture tables, plus the
distributed bench-scale generator (Zipf-host frontier shaped like the
10^10 target, deterministically seeded — BASELINE.json: no external data).

Small fixture graphs are built driver-side (≤ a few thousand rows);
bench-scale pages/images are generated DISTRIBUTED via ``spark.range →
mapInPandas`` so generation itself scales with executors.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from ..core.images import encode, generate_pixels, phash64
from ..core.urls import host_of
from .fixtures import (
    PageSpec, SiteGraph, caption_for, expected_extraction, fmt_for,
    image_id_for, render_html,
)

PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("host", StringType(), False),
    StructField("status", IntegerType(), False),
    StructField("html", StringType(), True),
    # post-JS DOM (S5): equals html unless the page has rendered-only
    # links; HEADLESS mode fetches this column, STANDARD fetches html
    StructField("html_rendered", StringType(), True),
    StructField("links", ArrayType(StructType([
        StructField("href", StringType()),
        StructField("link_pos", IntegerType()),
        StructField("in_selector", BooleanType()),
    ])), True),
    StructField("image_id", StringType(), True),
    StructField("exp_title", StringType(), True),
    StructField("exp_content", StringType(), True),
])

IMAGES_SCHEMA = StructType([
    StructField("image_id", StringType(), False),
    StructField("bytes", BinaryType(), False),
    StructField("w", IntegerType(), False),
    StructField("h", IntegerType(), False),
    StructField("fmt", StringType(), False),
    StructField("caption", StringType(), False),
    StructField("phash", LongType(), False),
])

ROBOTS_SCHEMA = StructType([
    StructField("host", StringType(), False),
    StructField("crawl_delay_ms", LongType(), False),
    StructField("disallow", ArrayType(StringType()), True),
    StructField("sitemap_url", StringType(), True),
])


def _selector_cls(selector: str | None) -> str | None:
    if not selector:
        return None
    return selector.partition(".")[2] or None


def pages_rows(graph: SiteGraph) -> list[tuple]:
    rows = []
    cls = _selector_cls(graph.selector)
    for spec in graph.pages.values():
        html = render_html(spec, cls)
        rendered = render_html(spec, cls, rendered=True)
        t, c = expected_extraction(spec)
        links = [(h, i, s) for i, (h, s) in enumerate(spec.links)]
        rows.append((spec.url, host_of(spec.url), spec.status, html, rendered,
                     links, spec.image_id, t, c))
    return rows


def pages_df(spark: SparkSession, graph: SiteGraph) -> DataFrame:
    return spark.createDataFrame(pages_rows(graph), PAGES_SCHEMA)


def images_rows(graph: SiteGraph, w: int = 32, h: int = 24) -> list[tuple]:
    rows = []
    seen = set()
    for spec in graph.pages.values():
        iid = spec.image_id
        if iid is None or iid in seen:
            continue
        seen.add(iid)
        px = generate_pixels(iid, w, h)
        fmt = fmt_for(spec.url)
        rows.append((iid, bytearray(encode(px, fmt)), w, h, fmt,
                     caption_for(iid), phash64(px)))
    return rows


def images_df(spark: SparkSession, graph: SiteGraph, w: int = 32, h: int = 24) -> DataFrame:
    return spark.createDataFrame(images_rows(graph, w, h), IMAGES_SCHEMA)


def robots_df(spark: SparkSession, hosts: list[str], crawl_delay_ms: int = 100,
              sitemap_urls: dict[str, str] | None = None) -> DataFrame:
    sm = sitemap_urls or {}
    rows = [(hst, crawl_delay_ms, [], sm.get(hst)) for hst in hosts]
    return spark.createDataFrame(rows, ROBOTS_SCHEMA)


# ---------------------------------------------------------------------------
# bench-scale distributed generator
# ---------------------------------------------------------------------------

def zipf_host_bounds(n_urls: int, n_hosts: int, s: float = 1.2) -> np.ndarray:
    """Cumulative URL-count boundaries per host under a Zipf(s) size law.
    Host 0 is the hot host — the skew the salting operator must absorb."""
    w = 1.0 / np.power(np.arange(1, n_hosts + 1, dtype=np.float64), s)
    shares = w / w.sum()
    counts = np.floor(shares * n_urls).astype(np.int64)
    counts[0] += n_urls - counts.sum()
    return np.concatenate([[0], np.cumsum(counts)])


_BENCH_FILLER = (
    "Lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua. Ut enim ad minim "
    "veniam quis nostrud exercitation ullamco laboris nisi ut aliquip. "
) * 12  # ~2.3 KB body text — realistic page weight for the parse UDF


def bench_pages_df(spark: SparkSession, n_urls: int, n_hosts: int = 100,
                   fanout: int = 16, zipf_s: float = 1.2,
                   with_html: bool = True) -> DataFrame:
    """Distributed synthetic web: each host is a k-ary tree; sizes Zipf.

    Generated via spark.range → mapInPandas so a 10^10-shape run would
    generate on executors, not the driver. Deterministic in row id.
    """
    bounds = zipf_host_bounds(n_urls, n_hosts, zipf_s)
    b_bounds = spark.sparkContext.broadcast(bounds)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bnd = b_bounds.value
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            host_idx = np.searchsorted(bnd, ids, side="right") - 1
            j = ids - bnd[host_idx]
            size = bnd[host_idx + 1] - bnd[host_idx]
            urls, hosts, htmls, links_col, img_ids = [], [], [], [], []
            for hi, jj, sz in zip(host_idx, j, size):
                root = f"http://host{hi}.bench.example.com"
                path = "/" if jj == 0 else f"/p{jj}.html"
                url = root + path
                kid_lo = jj * fanout + 1
                kids = [f"/p{k}.html" for k in range(kid_lo, min(kid_lo + fanout, sz))]
                urls.append(url)
                hosts.append(f"host{hi}.bench.example.com")
                img_ids.append(image_id_for(url))
                links_col.append(
                    [{"href": k, "link_pos": p, "in_selector": True}
                     for p, k in enumerate(kids)])
                if with_html:
                    anchors = "".join(f'<a href="{k}">{k}</a>' for k in kids)
                    htmls.append(
                        f"<html><head><title>h{hi} p{jj}</title></head>"
                        f"<body><script>noise()</script><style>.x{{}}</style>"
                        f"<h1>h{hi} p{jj}</h1>"
                        f"<p>bench page {jj} of host {hi}. {_BENCH_FILLER}</p>"
                        f"{anchors}</body></html>")
                else:
                    htmls.append(None)
            yield pd.DataFrame({
                "url": urls, "host": hosts,
                "status": np.full(len(urls), 200, dtype=np.int32),
                "html": htmls,
                # no JS-only links in the bench web: NULL → the engine's
                # coalesce(html_rendered, html) falls back to the static
                # column without doubling the generated payload
                "html_rendered": [None] * len(urls),
                "links": links_col, "image_id": img_ids,
                "exp_title": [None] * len(urls), "exp_content": [None] * len(urls),
            })

    return spark.range(n_urls).mapInPandas(gen, PAGES_SCHEMA)


def bench_images_df(spark: SparkSession, pages: DataFrame,
                    w: int = 64, h: int = 48) -> DataFrame:
    """Distributed image payload generation keyed off pages.image_id."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"image_id": [], "bytes": [], "w": [], "h": [],
                   "fmt": [], "caption": [], "phash": []}
            for iid, url in zip(pdf["image_id"], pdf["url"]):
                px = generate_pixels(iid, w, h)
                # REAL baseline JPEG for the lossy half: the LUT entropy
                # decoder (core/jpeg.py) runs at several hundred
                # images/s/core, so the 120k-row crawl bench validates
                # actual lossy-DCT artifacts (PSNR >= 40 dB at q97)
                fmt = fmt_for(url)
                out["image_id"].append(iid)
                out["bytes"].append(encode(px, fmt))
                out["w"].append(w)
                out["h"].append(h)
                out["fmt"].append(fmt)
                out["caption"].append(caption_for(iid))
                out["phash"].append(phash64(px))
            pdf_out = pd.DataFrame(out)
            pdf_out["w"] = pdf_out["w"].astype("int32")
            pdf_out["h"] = pdf_out["h"].astype("int32")
            pdf_out["phash"] = pdf_out["phash"].astype("int64")
            yield pdf_out

    return pages.select("image_id", "url").mapInPandas(gen, IMAGES_SCHEMA)
