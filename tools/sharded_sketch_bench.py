"""Seen-sketch shard count at crawl scale: default sizing vs 64 shards.

Runs the SAME 150k-URL crawl twice on the one seen-sketch layout: once
with default sizing (the sketch fits one shard, S = 1), once with the
shard size forced to 1/64 of the sketch (S = 64), and reports wall time,
crawl output equality, per-wave sketch snapshot bytes, the per-task
probe footprint (the largest shard file), and the per-wave merge I/O of
the sharded run against each wave delta's shard coverage.

Usage: python tools/sharded_sketch_bench.py [n_urls]
Prints one JSON line; recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from dataclasses import replace

    from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
    from azuresearchcrawlervector_spark.operators.seen import BloomFilter
    from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
    from azuresearchcrawlervector_spark.session import get_spark
    from azuresearchcrawlervector_spark.sources.synthetic import (
        bench_pages_df, robots_df,
    )

    spark = get_spark("sharded-sketch-bench",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="sharded_sketch_")
    bench_pages_df(spark, n, 100).write.mode("overwrite").parquet(
        f"{work}/pages.parquet")
    pages = spark.read.parquet(f"{work}/pages.parquet")
    robots = robots_df(spark, [f"host{i}.bench.example.com"
                               for i in range(100)], 100)
    seeds = [f"http://host{i}.bench.example.com/" for i in range(100)]
    base = CrawlConfig(
        root_url=seeds[0], mode=CrawlMode.STANDARD, max_pages=n,
        max_depth=64, iter_window_ms=3_600_000, salt_partitions=16,
        seen_sketch_min_pages=1_000,
    )
    # sized sketch for 150k keys = 2^22 bits: one shard by default;
    # 2^16-bit (8 KB) shards make 64
    shard_bits = BloomFilter.sized_for(n, base.bloom_bits_per_key).n_bits // 64
    sharded = replace(base, seen_sketch_shard_bits=shard_bits)

    def run(tag, cfg):
        t0 = time.monotonic()
        eng = CrawlEngine(spark, pages, cfg, f"{work}/ckpt_{tag}",
                          robots=robots, seeds=seeds, track_order=False,
                          validate_images=False)
        res = eng.run()
        dt = time.monotonic() - t0
        skdir = f"{work}/ckpt_{tag}/seen_sketch"
        files = os.listdir(skdir) if os.path.isdir(skdir) else []
        bins = [f for f in files if f.endswith(".bin")]
        total_bytes = sum(
            os.path.getsize(os.path.join(skdir, f)) for f in bins)
        max_file = max(
            (os.path.getsize(os.path.join(skdir, f)) for f in bins),
            default=0)
        return {
            "sec": round(dt, 1),
            "urls": res.manifest.pages_fetched,
            "iters": res.manifest.iter,
            "sketch_files": len(bins),
            "sketch_bytes_total": total_bytes,
            "probe_unit_bytes": max_file,  # per-task read: one shard
            "n_shards": eng._n_shards,
            "docs": res.manifest.docs_emitted,
        }, res, eng

    def wave_merge_io(res, eng, tag):
        """Per-wave merge-I/O evidence: shard files written at wave v
        (dirty writes, executor-side) vs the wave delta's shard
        coverage from the frontier log. Sound bound: written ⊆ cover."""
        from pyspark.sql import functions as F
        skdir = f"{work}/ckpt_{tag}/seen_sketch"
        written: dict[int, int] = {}
        for f in os.listdir(skdir):
            if f.startswith("shard") and f.endswith(".bin"):
                written[int(f[12:17])] = written.get(int(f[12:17]), 0) + 1
        cover = {
            int(r["iter"]): int(r["c"])
            for r in res.frontier_log(spark)
            .withColumn("shard", F.pmod(F.col("url_hash"),
                                        F.lit(eng._n_shards)))
            .groupBy("iter")
            .agg(F.countDistinct("shard").alias("c")).collect()
        }
        waves = [{"iter": v, "dirty_files": w,
                  "delta_cover": cover.get(v, 0)}
                 for v, w in sorted(written.items())]
        # the first version is the gate's one-time build from the whole
        # frontier log, not a merge of one wave's delta
        build, waves = waves[0], waves[1:]
        return {
            "gate_build": build,
            "waves": waves,
            "bounded_by_delta": all(
                w["dirty_files"] <= max(w["delta_cover"], 1)
                for w in waves),
        }

    one, _, _ = run("one", base)
    shard, sres, seng = run("shard", sharded)
    merge_io = wave_merge_io(sres, seng, "shard")
    assert one["n_shards"] == 1 and shard["n_shards"] == 64
    assert one["urls"] == shard["urls"] == n
    assert one["docs"] == shard["docs"]
    assert merge_io["bounded_by_delta"]
    out = {"n_urls": n, "one_shard": one, "sharded": shard,
           "shard_bytes": shard_bits // 8, "sharded_merge_io": merge_io}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
