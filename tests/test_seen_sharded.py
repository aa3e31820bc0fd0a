"""Sharded seen-sketch: the engine's one seen-sketch layout.

Contract: power-of-two Bloom shards snapshotted as per-shard files
(dirty shards only) and probed shard-aligned from the checkpoint store
— no monolithic broadcast — with crawl output identical to the plain
exact anti-join and bit-identical resume.
"""

import json
import os
from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
from azuresearchcrawlervector_spark.operators.seen import (
    ShardedSketchFiles, anti_join_seen, merge_delta_sharded_files,
)
from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
from azuresearchcrawlervector_spark.sources.fixtures import test_website as website1_graph
from azuresearchcrawlervector_spark.sources.synthetic import pages_df

# max_pages=2048 at 16 bits/key sizes the sketch to 2^15 bits; 2^13-bit
# shards -> 4 shards
SHARDED_KW = dict(max_pages=2048, seen_sketch_min_pages=1,
                  seen_sketch_shard_bits=1 << 13)


def test_sharded_file_probe_no_false_negatives(spark, tmp_path):
    """anti_join_seen over a ShardedSketchFiles handle must equal the
    plain exact anti-join — Bloom FPs are absorbed by the confirm join,
    false negatives are impossible."""
    rng = np.random.default_rng(11)
    seen_h = rng.integers(-(1 << 62), 1 << 62, size=400, dtype=np.int64)
    cand_h = np.concatenate([seen_h[:200],
                             rng.integers(-(1 << 62), 1 << 62, size=300,
                                          dtype=np.int64)])
    n_shards, shard_bits = 8, 1 << 13
    index = merge_delta_sharded_files(
        spark.createDataFrame([(int(h),) for h in seen_h], "url_hash long"),
        "url_hash", n_shards, shard_bits, {}, str(tmp_path / "sk"), 0)
    handle = ShardedSketchFiles(n_shards, shard_bits, index)
    cand = spark.createDataFrame([(int(h),) for h in cand_h], "url_hash long")
    seen = spark.createDataFrame([(int(h),) for h in seen_h], "url_hash long")
    got = {r["url_hash"]
           for r in anti_join_seen(cand, seen, handle).collect()}
    want = {r["url_hash"]
            for r in anti_join_seen(cand, seen, None).collect()}
    assert got == want


def test_single_shard_probe_keeps_partitioning(spark, tmp_path):
    """S = 1 (every sketch up to one shard): all rows are shard-aligned,
    so the probe keeps the candidates' partitioning instead of pulling
    the whole probe into one task."""
    seen = spark.createDataFrame([(h,) for h in range(0, 400, 2)],
                                 "url_hash long")
    index = merge_delta_sharded_files(
        seen, "url_hash", 1, 1 << 13, {}, str(tmp_path / "s1"), 0)
    cand = spark.range(400).select(
        F.col("id").alias("url_hash")).repartition(4)
    tagged = ShardedSketchFiles(1, 1 << 13, index).split(cand)
    assert tagged.rdd.getNumPartitions() == 4
    maybe = {r["url_hash"] for r in tagged.collect() if r["maybe_seen"]}
    assert set(range(0, 400, 2)) <= maybe   # no false negatives


def test_merge_delta_sharded_files_dirty_only(spark, tmp_path):
    """Executor-side file merge: dirty shards get a new version file,
    clean shards keep their previous path, re-merging the same delta
    writes nothing, and the merged snapshot probes without false
    negatives."""
    n_shards, shard_bits = 8, 1 << 13
    out = str(tmp_path / "sk")
    base = spark.createDataFrame(
        [(int(h),) for h in range(0, 160, 2)], "url_hash long")
    index = merge_delta_sharded_files(
        base, "url_hash", n_shards, shard_bits, {}, out, 0)
    assert index and all(
        os.path.getsize(p) == shard_bits // 8 for p in index.values())

    # delta entirely in shard 3 (hashes ≡ 3 mod 8)
    delta = spark.createDataFrame(
        [(int(h),) for h in range(3, 160, 8)], "url_hash long")
    dirty = merge_delta_sharded_files(
        delta, "url_hash", n_shards, shard_bits, dict(index), out, 1)
    assert set(dirty) == {3}
    assert dirty[3] != index.get(3) and dirty[3].endswith("_v00001.bin")
    merged = {**index, **dirty}

    # same delta again -> no new bits anywhere -> no dirty shards
    assert merge_delta_sharded_files(
        delta, "url_hash", n_shards, shard_bits, dict(merged), out, 2) == {}

    # no false negatives through the merged snapshot
    handle = ShardedSketchFiles(n_shards, shard_bits, merged)
    seen = base.unionByName(delta)
    cand = spark.createDataFrame(
        [(int(h),) for h in range(200)], "url_hash long")
    got = {r["url_hash"] for r in anti_join_seen(cand, seen, handle).collect()}
    want = {r["url_hash"] for r in anti_join_seen(cand, seen, None).collect()}
    assert got == want


def _run(spark, tmp_path, tag, cfg, max_iters=1000, resume=False):
    g = website1_graph()
    eng = CrawlEngine(spark, pages_df(spark, g), cfg, str(tmp_path / tag),
                      validate_images=False, max_iters=max_iters)
    return eng.run(resume=resume), g


def test_engine_sharded_matches_plain(spark, tmp_path):
    g = website1_graph()
    base_cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    sharded_cfg = replace(base_cfg, **SHARDED_KW)
    res_p, _ = _run(spark, tmp_path, "plain", base_cfg)
    res_s, _ = _run(spark, tmp_path, "shard", sharded_cfg)
    a = sorted((r["seq"], r["url"], r["id"])
               for r in res_p.documents(spark).collect())
    b = sorted((r["seq"], r["url"], r["id"])
               for r in res_s.documents(spark).collect())
    assert a == b and len(a) == 19
    assert {r["url"] for r in res_p.seen(spark).collect()} == \
        {r["url"] for r in res_s.seen(spark).collect()}
    # the sharded snapshot really was active: JSON index + shard files,
    # and clean shards keep their previous file across waves
    idx_path = res_s.manifest.seen_sketch_path
    assert idx_path and idx_path.endswith(".json")
    with open(idx_path) as fh:
        index = json.load(fh)
    assert index and all(os.path.exists(p) for p in index.values())
    assert len({int(s) for s in index}) <= 4


def test_engine_sharded_driver_not_resident(spark, tmp_path):
    """Round-3 VERDICT #1: in sharded mode no sketch bits ever live on
    the driver — the engine's only sketch state is the path index —
    and per-wave snapshot writes are bounded by the wave delta's shard
    coverage (merge I/O ∝ delta, not sketch size)."""
    g = website1_graph()
    cfg = replace(CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD),
                  **SHARDED_KW)
    eng = CrawlEngine(spark, pages_df(spark, g), cfg,
                      str(tmp_path / "nr"), validate_images=False,
                      max_iters=1000)
    res = eng.run()
    assert eng._sketch_index                 # index-only driver state
    assert len(res.documents(spark).collect()) == 19

    # per-wave file evidence: the shard files written at wave i are
    # exactly the shards the wave's seen-delta hashes cover that
    # changed — never more than the delta's shard coverage
    n_shards = eng._n_shards
    log = res.frontier_log(spark)
    per_wave = (
        # all attempted rows: a superset of the seen delta under every
        # seen_on policy, so "written shard ⊆ cover" stays sound
        log.withColumn("shard", F.pmod(F.col("url_hash"), F.lit(n_shards)))
        .groupBy("iter").agg(F.collect_set("shard").alias("shards"))
        .collect()
    )
    delta_cover = {int(r["iter"]): {int(s) for s in r["shards"]}
                   for r in per_wave}
    sdir = os.path.join(str(tmp_path / "nr"), "seen_sketch")
    for f in os.listdir(sdir):
        if f.startswith("shard") and f.endswith(".bin"):
            s, v = int(f[5:10]), int(f[12:17])
            assert s in delta_cover.get(v, set()), (f, delta_cover)


def test_engine_sharded_resume_identical(spark, tmp_path):
    g = website1_graph()
    cfg = replace(CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD),
                  **SHARDED_KW)
    res_full, _ = _run(spark, tmp_path, "full", cfg)
    # kill after 2 waves, then resume in a FRESH engine (driver state
    # lost -> sharded snapshot must reload from the index)
    _run(spark, tmp_path, "kr", cfg, max_iters=2)
    res_kr, _ = _run(spark, tmp_path, "kr", cfg, resume=True)
    a = sorted((r["seq"], r["url"], r["id"])
               for r in res_full.documents(spark).collect())
    b = sorted((r["seq"], r["url"], r["id"])
               for r in res_kr.documents(spark).collect())
    assert a == b and len(a) == 19


def test_merge_delta_sharded_files_empty_delta(spark, tmp_path):
    """An empty wave delta writes nothing and returns no dirty shards."""
    out = str(tmp_path / "sk0")
    empty = spark.createDataFrame([], "url_hash long")
    assert merge_delta_sharded_files(
        empty, "url_hash", 8, 1 << 13, {}, out, 0) == {}
    assert not [f for f in os.listdir(out) if f.endswith(".bin")]


def test_merge_delta_sharded_files_rejects_non_power_of_two(spark, tmp_path):
    # round-4 advice: Spark's pmod partitioner and the task-side uint64
    # modulo agree on negative hashes only for power-of-two shard
    # counts; anything else must be refused loudly, not lose bits
    df = spark.createDataFrame([(i,) for i in range(8)], "url_hash long")
    with pytest.raises(AssertionError):
        merge_delta_sharded_files(
            df, "url_hash", 3, 1 << 13, {}, str(tmp_path / "np2"), 0)
