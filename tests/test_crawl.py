"""Engine ≡ golden-oracle simulator across fixtures, modes, and budgets.

The reference asserts visit order only for its sequential modes
(HeadlessBrowserCrawlerTests.cs:343-348); here EVERY mode is checked for
exact visit order + seen set + document content against the pure-Python
simulator (FIXTURES.md §6 table-diff oracle replacing log-scraping).
"""

import hashlib

from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
from azuresearchcrawlervector_spark.simulator import simulate
from azuresearchcrawlervector_spark.sources.fixtures import (
    broken_links_site,
    test_website as website1_graph,
    test_website2 as website2_graph,
)
from azuresearchcrawlervector_spark.sources.synthetic import pages_df


def run_engine(spark, graph, cfg, ckpt, **kw):
    pages = pages_df(spark, graph)
    eng = CrawlEngine(spark, pages, cfg, ckpt, validate_images=False, **kw)
    return eng.run()


def assert_engine_matches_sim(spark, graph, cfg, ckpt, **kw):
    res = run_engine(spark, graph, cfg, ckpt, **kw)
    sim = simulate(graph, cfg)
    docs = res.documents(spark)
    rows = sorted(docs.collect(), key=lambda r: r["seq"])
    eng_order = [(r["seq"], r["url"], r["depth"]) for r in rows]
    sim_order = [(s["seq"], s["url"], s["depth"]) for s in
                 [dict(seq=d["seq"], url=d["url"], depth=d["depth"]) for d in sim.documents]]
    assert eng_order == sim_order, f"visit order diverged\nengine={eng_order}\nsim={sim_order}"
    # content + id parity (T5: sha512 of url)
    sim_by_url = {d["url"]: d for d in sim.documents}
    for r in rows:
        sd = sim_by_url[r["url"]]
        assert r["title"] == sd["title"]
        assert r["content"] == sd["content"]
        assert r["id"] == hashlib.sha512(r["url"].encode()).hexdigest()
        assert len(r["title_vector"]) == cfg.embedding_dim
    seen_eng = {r["url"] for r in res.seen(spark).collect()}
    assert seen_eng == sim.seen
    return res, sim


# ------------------------------------------------------------- standard/BFS
def test_standard_full_crawl(spark, tmp_ckpt):
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)


def test_standard_max_pages(spark, tmp_ckpt):
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD, max_pages=7)
    res, sim = assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)
    assert len(sim.visit_order) == 7


def test_standard_max_depth(spark, tmp_ckpt):
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD, max_depth=1)
    res, sim = assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)
    assert max(d for _s, _u, d in sim.visit_order) == 1


def test_standard_selector_restricts_to_blog(spark, tmp_ckpt):
    # reference integration scenario: div.blog-content selector
    # (TestWebsiteIntegrationTests.cs:101-115)
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                      dom_selector=g.selector)
    res, sim = assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)
    urls = {u for _s, u, _d in sim.visit_order}
    assert all(("/blog/" in u or "/products/product1" in u or u.endswith("/"))
               for u in urls), urls


def test_standard_website2(spark, tmp_ckpt):
    g = website2_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)


def test_standard_broken_links(spark, tmp_ckpt):
    # F3: non-200 skipped, not emitted, but budget-counted at schedule time
    g = broken_links_site()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    res, sim = assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)
    assert {u for _s, u, _d in sim.visit_order} == {
        "http://broken.example.com/", "http://broken.example.com/ok.html"}


# ---------------------------------------------------------------- DFS/headless
def test_headless_dfs_preorder(spark, tmp_ckpt):
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.HEADLESS, max_pages=12)
    assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)


def test_headless_depth_gate(spark, tmp_ckpt):
    # depth == maxDepth → fetch but don't extract (HeadlessBrowserCrawler.cs:171-175)
    g = website2_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.HEADLESS, max_depth=1,
                      max_pages=50)
    assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)


def test_headless_failed_fetch_retriable(spark, tmp_ckpt):
    # seen-on-success: 404/500 pages never enter seen (HeadlessBrowserCrawler.cs:161)
    g = broken_links_site()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.HEADLESS, max_pages=10)
    res, sim = assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)
    assert "http://broken.example.com/gone.html" not in sim.seen


# ----------------------------------------------------------------- ordering
def test_bfs_vs_dfs_orders_differ(spark):
    g = website1_graph()
    bfs = simulate(g, CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD))
    dfs = simulate(g, CrawlConfig(root_url=g.root, mode=CrawlMode.HEADLESS))
    assert {u for _s, u, _d in bfs.visit_order} == {u for _s, u, _d in dfs.visit_order}
    assert [u for _s, u, _d in bfs.visit_order] != [u for _s, u, _d in dfs.visit_order]


def test_metrics_lineage_rows(spark, tmp_ckpt):
    g = website2_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    res = run_engine(spark, g, cfg, tmp_ckpt)
    mets = res.metrics(spark).collect()
    glob = [m for m in mets if m["partition_id"] == -1]
    parts = [m for m in mets if m["partition_id"] >= 0]
    assert len(glob) >= 1 and len(parts) >= 1
    assert sum(m["fetched"] for m in glob) == 7
    # metrics is a parquet delta table (one driver-written file per
    # wave), NOT an O(waves) driver re-materialization from manifests;
    # each manifest carries only its own wave's rows
    assert res.manifest.deltas.get("metrics"), "metrics parquet deltas missing"
    assert len(res.manifest.deltas["metrics"]) == res.manifest.iter
    for mf in res.store.all_manifests():
        assert all(r[0] == mf.iter for r in mf.metrics_rows)
    log = res.frontier_log(spark)
    assert log.filter(F.col("state") == "fetched").count() == 7


def test_standard_attribute_selector(spark, tmp_ckpt):
    # the reference's integration suite passes an ATTRIBUTE selector to
    # QuerySelectorAll (div[class*="blog-teaser"],
    # TestWebsiteIntegrationTests.cs:306) — same shape here: substring
    # match on the class attr instead of a class-token selector. Seeded
    # at /cases.html (the selector-scoped page), engine ≡ simulator.
    g = website2_graph()
    cfg = CrawlConfig(root_url=g.root.rstrip("/") + "/cases.html",
                      mode=CrawlMode.STANDARD,
                      dom_selector='div[class*="case-head"]')
    res, sim = assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)
    urls = {u for _s, u, _d in sim.visit_order}
    assert f"{g.root}/cases/ecommerce-giant.html" in urls
    assert f"{g.root}/cases/news-agency.html" in urls
    assert not any(u.endswith("/about.html") for u in urls)


def test_rendered_dom_headless_vs_standard(spark, tmp_ckpt):
    # S5: links that exist only in the JS-rendered DOM. Headless crawls
    # the rendered page (engine ≡ recursive sim on it); standard crawls
    # static HTML and never discovers the app routes.
    from azuresearchcrawlervector_spark.sources.fixtures import rendered_spa_site
    g = rendered_spa_site()
    cfg_h = CrawlConfig(root_url=g.root, mode=CrawlMode.HEADLESS, max_pages=10)
    res, sim = assert_engine_matches_sim(spark, g, cfg_h, tmp_ckpt)
    assert {u for _s, u, _d in sim.visit_order} == set(g.pages)  # all 3
    cfg_s = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    res_s = run_engine(spark, g, cfg_s, tmp_ckpt + "_std")
    std_urls = {r["url"] for r in res_s.documents(spark).collect()}
    assert std_urls == {g.root + "/"}  # static HTML has no anchors


def test_range_partitioned_topk_cap(spark, tmp_ckpt, monkeypatch):
    # A1 with a BINDING cap routed through the exact range-partitioned
    # top-K (threshold forced to 0) — must equal the simulator exactly,
    # including which pages made the cut and the visit order.
    from azuresearchcrawlervector_spark.plans import crawl
    monkeypatch.setattr(crawl, "TOPK_RANGE_ABOVE_ROWS", 0)
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD, max_pages=7)
    assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)


def test_visit_order_across_range_partitions(spark, tmp_ckpt):
    # a wave with more than ROWS_PER_UDF_TASK pending rows is range-
    # partitioned by priority into several partitions, so its visit-
    # order seq adds a per-partition offset for more than one _pid; its
    # fetch rows span several partitions too, so the exact per-partition
    # metrics are checked across them
    from collections import Counter

    from azuresearchcrawlervector_spark.plans.crawl import ROWS_PER_UDF_TASK
    from azuresearchcrawlervector_spark.sources.fixtures import hot_host_graph
    assert spark.sparkContext.defaultParallelism >= 2
    # one host, a 25-ary tree of 700 pages: waves of 1, 25, 625, 49
    g = hot_host_graph(n_hosts=1, n_urls=700, hot_share=1.0, fanout=25)
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                      max_pages=1000, politeness=False)
    res, sim = assert_engine_matches_sim(spark, g, cfg, tmp_ckpt)
    per_wave = Counter(r["iter"] for r in res.frontier_log(spark).collect())
    assert max(per_wave.values()) > ROWS_PER_UDF_TASK
    got = [(r["seq"], r["url"]) for r in
           res.documents(spark).orderBy("seq").collect()]
    assert got == [(d["seq"], d["url"]) for d in sim.documents]
    # the per-partition metrics rows (observed on the frontier_log write)
    # equal a groupBy over what that write produced, on the big wave too
    log = res.frontier_log(spark)
    want = sorted(
        (r["iter"], r["partition_id"], r["fetched"], r["failed"]) for r in
        log.groupBy("iter", "partition_id").agg(
            F.sum((F.col("state") == "fetched").cast("long")).alias("fetched"),
            F.sum((F.col("state") != "fetched").cast("long")).alias("failed"),
        ).collect())
    mets = sorted((r["iter"], r["partition_id"], r["fetched"], r["failed"])
                  for r in res.metrics(spark).collect()
                  if r["partition_id"] >= 0)
    assert mets == want
    big = max(per_wave, key=per_wave.get)
    assert len({p for it, p, _, _ in mets if it == big}) >= 2
