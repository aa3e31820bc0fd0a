"""Long-crawl flatness evidence (VERDICT round-2 item #6).

Runs a ≥50-wave crawl — a single-host link chain fetches one URL per
BFS wave, so wave count ≈ crawl length — with every per-wave
maintenance path active that could grow with crawl age: 2-level
incremental log compaction (small K so it triggers repeatedly), the
incremental seen sketch (min_pages=1), pending rewrite churn, and the
per-wave metrics/manifest commits. Per-wave wall time comes from the
engine's own metrics table (one global row per wave).

Flat per-wave time over crawl age is the claim: the engine's per-wave
fixed cost must depend on the RECENT delta volume, never on cumulative
crawl history. Reported as median(late waves) / median(early waves);
on this noisy shared box, anything ~1x (within the 2-4x documented
noise band) supports the claim.

Usage: python tools/long_crawl_bench.py [n_waves]
Writes BENCH/LONGCRAWL.json and prints one JSON line.

LONGCRAWL_SHARDED=1 (round-4 VERDICT #7) forces several seen-sketch
shards (tiny shard bits; by default this crawl's sketch is one shard),
so the flatness claim is evidenced on the 10^10-scale shape: per-wave
merge I/O must track the wave's DELTA (dirty shards), not cumulative
crawl age. The run then also reports per-wave dirty-shard write counts,
recovered from the version-stamped shard snapshot files.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 60

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
    from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
    from azuresearchcrawlervector_spark.session import get_spark
    from azuresearchcrawlervector_spark.sources.fixtures import hot_host_graph
    from azuresearchcrawlervector_spark.sources.synthetic import pages_df

    spark = get_spark("long-crawl",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    sharded = os.environ.get("LONGCRAWL_SHARDED") == "1"
    g = hot_host_graph(n_hosts=1, n_urls=n + 5, fanout=1)
    shard_kw = {"seen_sketch_shard_bits": 1 << 11} if sharded else {}
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                      max_pages=n, max_depth=n + 10,
                      log_compaction_files=6, seen_sketch_min_pages=1,
                      **shard_kw)
    work = tempfile.mkdtemp(prefix="long_crawl_")
    eng = CrawlEngine(spark, pages_df(spark, g), cfg, f"{work}/ckpt",
                      validate_images=False, track_order=False,
                      max_iters=n + 20)
    if sharded:
        assert eng._n_shards > 1, "forced sharding did not engage"
    res = eng.run()
    mets = sorted(
        (r["iter"], r["wall_ms"]) for r in
        res.metrics(spark).filter("partition_id = -1").collect())
    series = [round(ms / 1000.0, 2) for _i, ms in mets]
    assert len(series) >= 50, f"only {len(series)} waves"
    early = statistics.median(series[4:15])
    late = statistics.median(series[-11:])
    out = {
        "waves": len(series),
        "pages_fetched": res.manifest.pages_fetched,
        "wave_secs": series,
        "median_early_w5_15": round(early, 2),
        "median_late_last10": round(late, 2),
        "late_over_early": round(late / early, 2),
        "log_compaction_files": cfg.log_compaction_files,
        "frontier_log_fanin_final": len(
            res.manifest.deltas["frontier_log"]),
    }
    if sharded:
        # dirty-shard writes per wave from the version-stamped snapshot
        # files (shardNNNNN_vWWWWW.bin): flat-over-age means the count
        # tracks the wave's delta (1 URL/wave here -> ~1 dirty shard),
        # never the cumulative shard population
        import re
        from collections import Counter
        dirty = Counter()
        sk_dir = eng.store.sketch_dir()
        for f in os.listdir(sk_dir):
            mm = re.match(r"shard(\d+)_v(\d+)\.bin$", f)
            if mm:
                dirty[int(mm.group(2))] += 1
        per_wave = [dirty.get(i, 0) for i in range(1, max(dirty) + 1)] \
            if dirty else []
        out["sharded"] = True
        out["n_shards"] = eng._n_shards
        out["dirty_shards_per_wave"] = per_wave
        out["dirty_shards_max"] = max(per_wave) if per_wave else 0
    bench_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH")
    with open(os.path.join(bench_dir, "LONGCRAWL.json"), "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
