"""P1 per-host politeness budgets + P2 salting + Bloom seen-sketch."""

import numpy as np
from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
from azuresearchcrawlervector_spark.operators.politeness import (
    apply_politeness, salted_repartition,
)
from azuresearchcrawlervector_spark.operators.seen import (
    BloomFilter, ShardedSketchFiles, anti_join_seen, merge_delta_sharded_files,
)
from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
from azuresearchcrawlervector_spark.simulator import simulate
from azuresearchcrawlervector_spark.sources.fixtures import hot_host_graph
from azuresearchcrawlervector_spark.sources.synthetic import pages_df, robots_df


def test_budget_window_global_per_host(spark):
    rows = [(f"h{i % 3}", f"u{i}", i, f"{i:05d}") for i in range(30)]
    df = spark.createDataFrame(rows, "host string, url string, url_hash long, priority string")
    robots = robots_df(spark, ["h0", "h1"], crawl_delay_ms=250)  # budget 4/host
    tagged = apply_politeness(df, robots, iter_window_ms=1000)
    due = tagged.filter("due").groupBy("host").count().collect()
    got = {r["host"]: r["count"] for r in due}
    # h2 absent from robots → default 100ms → budget 10
    assert got == {"h0": 4, "h1": 4, "h2": 10}
    # due rows are the LOWEST-priority (earliest) per host
    due_h0 = sorted(r["priority"] for r in tagged.filter("due and host='h0'").collect())
    assert due_h0 == ["00000", "00003", "00006", "00009"]


def test_politeness_carryover_in_engine(spark, tmp_ckpt):
    """Hot-host fixture: per-iteration fetch count per host never exceeds
    the budget, carried URLs eventually all fetched, engine == simulator."""
    g = hot_host_graph(n_hosts=3, n_urls=60, hot_share=0.8, fanout=5)
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                      max_pages=60, iter_window_ms=500)  # budget 5/host/iter
    pages = pages_df(spark, g)
    eng = CrawlEngine(spark, pages, cfg, tmp_ckpt, validate_images=False)
    res = eng.run()
    log = res.frontier_log(spark)
    per_iter_host = log.groupBy("iter", "host").count().collect()
    assert all(r["count"] <= 5 for r in per_iter_host), per_iter_host
    sim = simulate(g, cfg)
    rows = sorted(res.documents(spark).collect(), key=lambda r: r["seq"])
    assert [(r["seq"], r["url"]) for r in rows] == \
        [(d["seq"], d["url"]) for d in sim.documents]


def test_salted_repartition_spreads_hot_host(spark):
    rows = [("hot", i) for i in range(1000)] + [("cold", i) for i in range(10)]
    df = spark.createDataFrame(rows, "host string, url_hash long")
    parts = (
        salted_repartition(df, salt_partitions=8, n_partitions=8)
        .withColumn("pid", F.spark_partition_id())
        .filter("host = 'hot'").select("pid").distinct().count()
    )
    assert parts >= 4  # hot host spans several partitions, not one


# ------------------------------------------------------------------- Bloom
def test_bloom_no_false_negatives_and_low_fp():
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    bf = BloomFilter.sized_for(len(keys), bits_per_key=16)
    bf.add_many(keys)
    assert bf.contains_many(keys).all()  # NO false negatives, ever
    fp = bf.contains_many(np.setdiff1d(other, keys)).mean()
    assert fp < 0.01, fp


def test_anti_join_seen_exact_despite_sketch(spark, tmp_path):
    cand = spark.createDataFrame([(i, f"u{i}") for i in range(1000)], "url_hash long, url string")
    seen = spark.createDataFrame([(i, f"u{i}", 0) for i in range(0, 1000, 2)],
                                 "url_hash long, url string, iter int")
    index = merge_delta_sharded_files(
        seen, "url_hash", 1, 1 << 14, {}, str(tmp_path / "sk"), 0)
    sketch = ShardedSketchFiles(1, 1 << 14, index)
    out = anti_join_seen(cand, seen, sketch)
    got = sorted(r["url_hash"] for r in out.collect())
    assert got == list(range(1, 1000, 2))  # exactly the odd (unseen) keys


def test_robots_disallow_enforced(spark, tmp_ckpt):
    """Opt-in Disallow enforcement: /contact/* blocked for the fixture host."""
    from azuresearchcrawlervector_spark.sources.fixtures import test_website
    from azuresearchcrawlervector_spark.sources.synthetic import pages_df as _pages_df
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    g = test_website()
    robots = spark.createDataFrame(
        [("testsite1.example.com", 100, ["/contact/"], None)],
        StructType([
            StructField("host", StringType()),
            StructField("crawl_delay_ms", LongType()),
            StructField("disallow", ArrayType(StringType())),
            StructField("sitemap_url", StringType()),
        ]),
    )
    from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine as _Eng
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                      respect_robots_disallow=True)
    res = _Eng(spark, _pages_df(spark, g), cfg, tmp_ckpt, robots=robots,
               validate_images=False).run()
    urls = {r["url"] for r in res.documents(spark).collect()}
    assert not any("/contact/office" in u for u in urls)
    assert any(u.endswith("/contact.html") for u in urls)  # page itself allowed
    assert len(urls) == 11  # 19 fixture pages minus 8 disallowed offices


def test_embed_budget_per_wave(spark, tmp_path):
    """P3 wired into the engine: ≤ budget documents embedded/emitted per
    wave, overflow carries in the embed queue (by priority) and drains
    after fetching ends; the final documents table is identical to the
    unbudgeted crawl (seq assigned at fetch time, unchanged)."""
    from azuresearchcrawlervector_spark.sources.fixtures import (
        test_website as website1_graph,
    )
    from azuresearchcrawlervector_spark.sources.synthetic import images_df

    g = website1_graph()
    pages, images = pages_df(spark, g), images_df(spark, g)
    robots = robots_df(spark, ["testsite1.example.com"])

    def run(tag, **kw):
        cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD, **kw)
        eng = CrawlEngine(spark, pages, cfg, str(tmp_path / tag),
                          images=images, robots=robots)
        return eng.run()

    res_b = run("budget", embed_budget_per_wave=3)
    res_n = run("plain")
    # per-wave emission cap honored in every documents delta file
    per_wave = [spark.read.parquet(p).count()
                for p in res_b.manifest.deltas["documents"]]
    assert all(n <= 3 for n in per_wave), per_wave
    assert sum(per_wave) == 19
    # the queue drained and drain waves happened (19 docs / 3 per wave
    # needs more waves than the fetch alone)
    assert res_b.manifest.embed_queue_count == 0
    assert res_b.manifest.finished
    assert len(per_wave) > len(res_n.manifest.deltas["documents"])
    a = sorted((r["seq"], r["url"], r["id"], r["title"], r["img_ok"])
               for r in res_b.documents(spark).collect())
    b = sorted((r["seq"], r["url"], r["id"], r["title"], r["img_ok"])
               for r in res_n.documents(spark).collect())
    assert a == b and len(a) == 19


def test_embed_budget_drain_resumable(spark, tmp_path):
    """A kill between drain waves resumes: the queue is committed
    data-files-first, so a fresh engine continues draining and the
    final documents equal an uninterrupted budgeted crawl's."""
    from azuresearchcrawlervector_spark.sources.fixtures import (
        test_website as website1_graph,
    )

    g = website1_graph()
    pages = pages_df(spark, g)

    def eng(tag, max_iters=1000):
        cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                          embed_budget_per_wave=3)
        return CrawlEngine(spark, pages, cfg, str(tmp_path / tag),
                           validate_images=False, max_iters=max_iters)

    res_full = eng("full").run()
    assert res_full.manifest.finished
    partial = eng("kr", max_iters=5).run()   # stops while queue non-empty
    assert not partial.manifest.finished
    assert partial.manifest.embed_queue_count > 0 or \
        partial.manifest.pending_count > 0
    res_kr = eng("kr").run(resume=True)
    assert res_kr.manifest.finished and res_kr.manifest.embed_queue_count == 0
    a = sorted((r["seq"], r["url"], r["id"])
               for r in res_full.documents(spark).collect())
    b = sorted((r["seq"], r["url"], r["id"])
               for r in res_kr.documents(spark).collect())
    assert a == b and len(a) == 19


def test_embed_queue_from_older_build_checked_on_drain(spark, tmp_path):
    """A P3 embed queue written before deferred rows carried their image
    checks (no img_ok/psnr_db/caption_ok columns) is checked when it is
    read back, through the fetch wave's image-check helper: the resumed
    crawl's documents equal an uninterrupted budgeted crawl's."""
    import shutil

    from azuresearchcrawlervector_spark.sources.fixtures import (
        test_website as website1_graph,
    )
    from azuresearchcrawlervector_spark.sources.synthetic import images_df

    g = website1_graph()
    pages, images = pages_df(spark, g), images_df(spark, g)

    def eng(tag, max_iters=1000):
        cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                          embed_budget_per_wave=3)
        return CrawlEngine(spark, pages, cfg, str(tmp_path / tag),
                           images=images, max_iters=max_iters)

    res_full = eng("full").run()
    partial = eng("old", max_iters=3).run()
    assert partial.manifest.embed_queue_count > 0
    queue = partial.manifest.embed_queue_path
    old = tmp_path / "old_queue"
    spark.read.parquet(queue).drop("img_ok", "psnr_db", "caption_ok") \
        .write.parquet(str(old))
    shutil.rmtree(queue)
    shutil.move(str(old), queue)
    assert "img_ok" not in spark.read.parquet(queue).columns

    res = eng("old").run(resume=True)
    assert res.manifest.finished and res.manifest.embed_queue_count == 0

    def docs(r):
        return sorted((d["seq"], d["url"], d["id"], d["img_ok"], d["psnr_db"],
                       d["caption_ok"]) for d in r.documents(spark).collect())

    got, want = docs(res), docs(res_full)
    assert got == want and len(got) == 19
    assert all(d[3] for d in got)
