"""Bucketed payload layout: file-level pruning of the per-wave fetch.

The scale contract (VERDICT round-2 #1): with pages/images written
partitioned by pmod(xxhash64(key), B), a wave's fetch must (a) produce
byte-identical crawl output to the flat layout on BOTH fetch paths
(broadcast probe and sketch-filtered), and (b) prune the payload scan
at the FILE level — PartitionFilters in the plan, only the wave's
bucket directories opened.
"""

import os

from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
from azuresearchcrawlervector_spark.sources.fixtures import test_website as website1_graph
from azuresearchcrawlervector_spark.sources.payload import (
    prune_by_buckets, wave_bucket_ids, write_bucketed_payload,
)
from azuresearchcrawlervector_spark.sources.synthetic import (
    images_df, pages_df, robots_df,
)

B = 8


def _bucketed_tables(spark, tmp_path):
    g = website1_graph()
    pages = pages_df(spark, g)
    images = images_df(spark, g)
    write_bucketed_payload(pages, str(tmp_path / "pages_b"), "url", B)
    write_bucketed_payload(images, str(tmp_path / "images_b"), "image_id", B)
    return (g, pages, images,
            spark.read.parquet(str(tmp_path / "pages_b")),
            spark.read.parquet(str(tmp_path / "images_b")))


def test_prune_by_buckets_partition_filters(spark, tmp_path):
    g, pages, _images, pages_b, _images_b = _bucketed_tables(spark, tmp_path)
    # bucket ids from the SAME hash the layout used
    want = wave_bucket_ids(pages, F.xxhash64("url"), B)[:2]
    pruned = prune_by_buckets(pages_b, want)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # row-level equivalence: pruning never drops in-bucket rows
    expect = pages.withColumn(
        "b", F.pmod(F.xxhash64("url"), F.lit(B)).cast("int")
    ).filter(F.col("b").isin(want)).count()
    assert expect > 0 and pruned.count() == expect


def test_prune_is_file_level_not_row_level(spark, tmp_path):
    """Physical proof of FILE-level pruning: corrupt every parquet file
    in the non-probed bucket directories. A partition-pruned scan never
    opens them and succeeds; touching a corrupted bucket fails."""
    g, pages, _images, _pages_b, _images_b = _bucketed_tables(spark, tmp_path)
    path = str(tmp_path / "pages_b")
    present = sorted(
        int(d.split("=")[1]) for d in os.listdir(path) if d.startswith("bucket="))
    assert len(present) >= 3
    keep, corrupt = present[:2], present[2:]
    for bkt in corrupt:
        d = os.path.join(path, f"bucket={bkt}")
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "wb") as fh:
                    fh.write(b"not a parquet file")
    # explicit schema (no footer sampling) — only execution opens files
    schema = pages.schema
    reread = spark.read.schema(schema).parquet(path)
    rows = prune_by_buckets(reread, keep).count()
    expect = pages.withColumn(
        "b", F.pmod(F.xxhash64("url"), F.lit(B)).cast("int")
    ).filter(F.col("b").isin(keep)).count()
    assert rows == expect and rows > 0
    # sanity: the corrupted buckets really are unreadable
    import pytest
    with pytest.raises(Exception):
        prune_by_buckets(reread, corrupt[:1]).count()


def _run(spark, pages, images, ckpt, g, payload_buckets=0, **cfg_kw):
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                      payload_buckets=payload_buckets, **cfg_kw)
    robots = robots_df(spark, ["testsite1.example.com"])
    eng = CrawlEngine(spark, pages, cfg, ckpt, images=images, robots=robots)
    res = eng.run()
    return sorted(
        (r["seq"], r["url"], r["id"], r["title"], r["img_ok"], r["caption_ok"])
        for r in res.documents(spark).collect())


def test_engine_bucketed_matches_flat_broadcast_path(spark, tmp_path):
    g, pages, images, pages_b, images_b = _bucketed_tables(spark, tmp_path)
    flat = _run(spark, pages, images, str(tmp_path / "c1"), g)
    buck = _run(spark, pages_b, images_b, str(tmp_path / "c2"), g,
                payload_buckets=B)
    assert flat == buck and len(flat) == 19


def test_engine_bucketed_matches_flat_sketch_path(spark, tmp_path,
                                                  monkeypatch):
    # BROADCAST_WAVE_ROWS=0 forces the big-wave sketch-filtered fetch;
    # bucket pruning then stacks under the Bloom row filter
    from azuresearchcrawlervector_spark.plans import crawl
    monkeypatch.setattr(crawl, "BROADCAST_WAVE_ROWS", 0)
    g, pages, images, pages_b, images_b = _bucketed_tables(spark, tmp_path)
    flat = _run(spark, pages, images, str(tmp_path / "c3"), g)
    buck = _run(spark, pages_b, images_b, str(tmp_path / "c4"), g,
                payload_buckets=B)
    assert flat == buck and len(flat) == 19
