"""URL kernel semantics + url hash and document id values."""

import hashlib

from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.core.urls import (
    canonicalize, href_is_crawlable, host_of, sitemap_loc_normalize,
)
from azuresearchcrawlervector_spark.functions.urls import url_hash_col


def test_canonicalize_dotnet_uri_behavior():
    # trailing slash on root (HeadlessBrowserCrawlerTests.cs:116,177)
    assert canonicalize(None, "http://example.com") == "http://example.com/"
    # scheme/host lowercase, default port removal (.NET Uri.ToString)
    assert canonicalize(None, "HTTP://ExAmPle.COM:80/A") == "http://example.com/A"
    assert canonicalize(None, "https://h.com:443/x") == "https://h.com/x"
    assert canonicalize(None, "https://h.com:8443/x") == "https://h.com:8443/x"
    # relative resolution (HeadlessBrowserCrawler.cs:204)
    assert canonicalize("http://a.com/x/y.html", "z.html") == "http://a.com/x/z.html"
    assert canonicalize("http://a.com/x/y.html", "/z.html") == "http://a.com/z.html"
    assert canonicalize("http://a.com/x/y.html", "../w.html") == "http://a.com/w.html"
    # fragment dropped, query kept
    assert canonicalize(None, "http://a.com/p?q=1#frag") == "http://a.com/p?q=1"
    # malformed → None (F7)
    assert canonicalize(None, "notaurl") is None
    assert canonicalize(None, "ftp://a.com/x") is None
    assert canonicalize(None, "http://a.com:bad/x") is None


def test_href_filter_f1():
    # HeadlessBrowserCrawler.cs:236-246
    assert not href_is_crawlable(None)
    assert not href_is_crawlable("")
    assert not href_is_crawlable("#anchor")
    assert not href_is_crawlable("javascript:void(0)")
    assert not href_is_crawlable("MAILTO:x@y.z")
    assert not href_is_crawlable("tel:+4670")
    assert not href_is_crawlable("relative.html")  # needs /-relative or absolute
    assert href_is_crawlable("/ok.html")
    assert href_is_crawlable("http://x.com/a")
    assert href_is_crawlable("HTTPS://x.com/a")


def test_sitemap_loc_normalize():
    # '.'-trim + leading-/ (SitemapCrawler.cs:40-55)
    assert sitemap_loc_normalize("http://a.com/sitemap.xml", "./page.html") == "http://a.com/page.html"
    assert sitemap_loc_normalize("http://a.com/s.xml", "page.html") == "http://a.com/page.html"
    assert sitemap_loc_normalize("http://a.com/s.xml", "http://a.com/x") == "http://a.com/x"
    assert sitemap_loc_normalize("http://a.com/s.xml", "  ") is None


def test_hash_and_id_parity_with_spark(spark):
    # url_hash = xxHash64 (seed 42) of the UTF-8 url, signed: values
    # from an independent implementation of the xxHash64 spec
    want = {
        "http://example.com/": 1313694010835035713,
        "https://h.com/x?q=1": 241894204935982930,
        "http://testsite1.example.com/blog/ai-and-webcrawling.html":
            -396729683604562161,
        "a" * 100: -5307276994506690727,  # >32 bytes: the 4-lane path
        "b" * 31: 688022552932669415,
    }
    df = spark.createDataFrame([(u,) for u in want], "url string")
    rows = df.select(
        "url",
        url_hash_col("url").alias("h"),
        F.sha2("url", 512).alias("id512"),
        F.sha2("url", 256).alias("id256"),
    ).collect()
    for r in rows:
        assert r["h"] == want[r["url"]], r["url"]
        # T5: reference id = lowercase hex SHA-512 of URL (Models/WebPage.cs:9-14)
        assert r["id512"] == hashlib.sha512(r["url"].encode()).hexdigest()
        assert r["id256"] == hashlib.sha256(r["url"].encode()).hexdigest()
