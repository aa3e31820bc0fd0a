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
