"""P4 retry, S2 sites-file multi-crawl."""

import json

from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode, parse_sites_json
from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine, run_sites
from azuresearchcrawlervector_spark.sources.fixtures import (
    broken_links_site,
    test_website as website1_graph,
    test_website2 as website2_graph,
)
from azuresearchcrawlervector_spark.sources.synthetic import pages_df


def test_retry_policy(spark, tmp_ckpt):
    # broken site: /gone.html is 404; with retries on it is re-attempted
    # retry_max_attempts times and then dropped
    g = broken_links_site()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                      retry_max_attempts=2)
    eng = CrawlEngine(spark, pages_df(spark, g), cfg, tmp_ckpt,
                      validate_images=False)
    res = eng.run()
    log = res.frontier_log(spark)
    gone_attempts = log.filter(
        F.col("url") == "http://broken.example.com/gone.html").count()
    assert gone_attempts == 3  # initial + 2 retries
    assert res.manifest.finished


def test_sites_file_multi_crawl(spark, tmp_path):
    g1, g2 = website1_graph(), website2_graph()
    pages = pages_df(spark, g1).unionByName(pages_df(spark, g2))
    # the reference's multi-site scenario seeds the selector-scoped site at
    # /cases.html, not at / (TestWebsiteIntegrationTests.cs:119-160) — the
    # root page has no div.case-header links so a root-seeded selector crawl
    # could never reach /cases/.
    sites = json.dumps([
        {"uri": g1.root, "maxDepth": 1},
        {"uri": "not a uri", "maxDepth": 2},      # skipped like the reference
        {"uri": g2.root.rstrip("/") + "/cases.html", "maxDepth": 10,
         "domSelector": g2.selector},
    ])
    assert len(parse_sites_json(sites)) == 3
    results = run_sites(spark, pages, sites, str(tmp_path / "sites"),
                        validate_images=False)
    assert len(results) == 2  # invalid URI row skipped
    d1 = results[0].documents(spark)
    assert d1.agg(F.max("depth")).collect()[0][0] == 1  # per-site maxDepth
    d2_urls = {r["url"] for r in results[1].documents(spark).collect()}
    assert any("/cases/" in u for u in d2_urls)  # selector-scoped crawl ran
