"""Sitemap discovery + sitemap-mode crawl (SitemapCrawler.cs semantics)."""

from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
from azuresearchcrawlervector_spark.plans.crawl import run_sitemap_crawl
from azuresearchcrawlervector_spark.simulator import simulate
from azuresearchcrawlervector_spark.sources.fixtures import spa_website
from azuresearchcrawlervector_spark.sources.sitemap import (
    discover_sitemap_urls, make_sitemapindex, make_urlset,
    parse_robots_sitemap_line, parse_sitemap_xml,
)
from azuresearchcrawlervector_spark.sources.synthetic import pages_df

ROOT = "http://s.example.com"


def fetcher(bodies):
    low = {k.lower(): v for k, v in bodies.items()}
    return lambda u: low.get(u.lower())


def test_parse_urlset_document_order():
    xml = make_urlset([f"{ROOT}/b", f"{ROOT}/a", f"{ROOT}/c"])
    kind, locs = parse_sitemap_xml(xml)
    assert kind == "urlset"
    assert locs == [f"{ROOT}/b", f"{ROOT}/a", f"{ROOT}/c"]  # doc order, no sorting


def test_parse_blank_loc_skipped():
    xml = make_urlset([f"{ROOT}/a", "   ", f"{ROOT}/b"])
    _, locs = parse_sitemap_xml(xml)
    assert locs == [f"{ROOT}/a", f"{ROOT}/b"]


def test_malformed_xml_returns_none():
    assert parse_sitemap_xml("<urlset><url>") is None
    assert parse_sitemap_xml("<unknown/>") is None


def test_robots_sitemap_line():
    # split on FIRST colon only (SitemapCrawler.cs:221-229)
    txt = "User-agent: *\nDisallow: /x\nSITEMAP: https://h.com/sm.xml\nSitemap: http://ignored.com/2.xml"
    assert parse_robots_sitemap_line(txt) == "https://h.com/sm.xml"
    assert parse_robots_sitemap_line("User-agent: *") is None


def test_probe_order_first_success_wins():
    # /sitemap.xml absent → /sitemap_index.xml used
    bodies = {
        f"{ROOT}/sitemap_index.xml": make_sitemapindex([f"{ROOT}/sm1.xml"]),
        f"{ROOT}/sm1.xml": make_urlset([f"{ROOT}/p1"]),
        f"{ROOT}/sitemaps/sitemap.xml": make_urlset([f"{ROOT}/WRONG"]),
    }
    assert discover_sitemap_urls(ROOT, fetcher(bodies)) == [f"{ROOT}/p1"]


def test_robots_redirect_discovery():
    bodies = {
        f"{ROOT}/robots.txt": f"User-agent: *\nSitemap: {ROOT}/deep/sm.xml",
        f"{ROOT}/deep/sm.xml": make_urlset([f"{ROOT}/p1", f"{ROOT}/p2"]),
    }
    assert discover_sitemap_urls(ROOT, fetcher(bodies)) == [f"{ROOT}/p1", f"{ROOT}/p2"]


def test_nested_index_recursion_and_order():
    bodies = {
        f"{ROOT}/sitemap.xml": make_sitemapindex([f"{ROOT}/a.xml", f"{ROOT}/b.xml"]),
        f"{ROOT}/a.xml": make_urlset([f"{ROOT}/a1", f"{ROOT}/a2"]),
        f"{ROOT}/b.xml": make_urlset([f"{ROOT}/b1"]),
    }
    assert discover_sitemap_urls(ROOT, fetcher(bodies)) == [
        f"{ROOT}/a1", f"{ROOT}/a2", f"{ROOT}/b1"]


def test_circular_reference_dedup():
    # J2: case-insensitive circular-ref protection (SitemapCrawlerTests.cs:322)
    bodies = {
        f"{ROOT}/sitemap.xml": make_sitemapindex([f"{ROOT}/A.xml"]),
        f"{ROOT}/a.xml": make_sitemapindex([f"{ROOT}/SITEMAP.xml", f"{ROOT}/c.xml"]),
        f"{ROOT}/c.xml": make_urlset([f"{ROOT}/c1"]),
    }
    assert discover_sitemap_urls(ROOT, fetcher(bodies)) == [f"{ROOT}/c1"]


def test_recursion_depth_cap():
    # depth capped at 10 (SitemapCrawler.cs:59-63)
    bodies = {f"{ROOT}/sitemap.xml": make_sitemapindex([f"{ROOT}/n0.xml"])}
    for i in range(30):
        bodies[f"{ROOT}/n{i}.xml"] = make_sitemapindex([f"{ROOT}/n{i+1}.xml"])
        bodies[f"{ROOT}/n{i}.xml"] = make_sitemapindex(
            [f"{ROOT}/n{i+1}.xml", f"{ROOT}/leaf{i}.xml"])
        bodies[f"{ROOT}/leaf{i}.xml"] = make_urlset([f"{ROOT}/page{i}"])
    urls = discover_sitemap_urls(ROOT, fetcher(bodies))
    # recursion-before-next-sibling (SitemapCrawler.cs:66-70): the deepest
    # reachable leaf is emitted first; chain cut at recursion depth 10
    assert urls == [f"{ROOT}/page{i}" for i in range(8, -1, -1)]


def test_sitemap_mode_engine_matches_sim(spark, tmp_ckpt):
    g = spa_website()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.SITEMAP)
    bodies = {g.root + "/sitemap.xml": make_urlset(g.sitemap_urls)}
    res = run_sitemap_crawl(spark, pages_df(spark, g), cfg, tmp_ckpt,
                            sitemap_bodies=bodies, validate_images=False)
    sim = simulate(g, cfg)
    rows = sorted(res.documents(spark).collect(), key=lambda r: r["seq"])
    assert [(r["seq"], r["url"]) for r in rows] == \
        [(d["seq"], d["url"]) for d in sim.documents]
    assert {r["url"] for r in res.seen(spark).collect()} == sim.seen


def test_sitemap_mode_maxpages(spark, tmp_ckpt):
    g = spa_website()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.SITEMAP, max_pages=2)
    bodies = {g.root + "/sitemap.xml": make_urlset(g.sitemap_urls)}
    res = run_sitemap_crawl(spark, pages_df(spark, g), cfg, tmp_ckpt,
                            sitemap_bodies=bodies, validate_images=False)
    sim = simulate(g, cfg)
    assert res.documents(spark).count() == 2 == len(sim.documents)


def test_malformed_probe_does_not_stop_loop():
    # /sitemap.xml fetches but is garbage → the probe loop must continue
    # to /sitemap_index.xml (reference continues on parse failure)
    bodies = {
        f"{ROOT}/sitemap.xml": "<html>not a sitemap</html>",
        f"{ROOT}/sitemap_index.xml": make_sitemapindex([f"{ROOT}/sm1.xml"]),
        f"{ROOT}/sm1.xml": make_urlset([f"{ROOT}/p1"]),
    }
    assert discover_sitemap_urls(ROOT, fetcher(bodies)) == [f"{ROOT}/p1"]


def test_relative_loc_resolves_against_root():
    # relative <loc> in a SUB-sitemap resolves against the crawl root,
    # not the sub-sitemap URL (SitemapCrawler.ResolveUrl(rootUri, ...))
    bodies = {
        f"{ROOT}/sitemap.xml": make_sitemapindex([f"{ROOT}/deep/nested/sm.xml"]),
        f"{ROOT}/deep/nested/sm.xml": make_urlset(["/page.html"]),
    }
    assert discover_sitemap_urls(ROOT, fetcher(bodies)) == [f"{ROOT}/page.html"]
