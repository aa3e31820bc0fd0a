"""Checkpoint/resume: kill-and-resume must be bit-identical (north_rule).

The reference loses all state on crash (in-memory HashSets — SURVEY.md
§2.7 P8); snapshot resume is the new capability the north_rule requires.
"""

import pytest

from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
from azuresearchcrawlervector_spark.plans.checkpoint import SnapshotStore
from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
from azuresearchcrawlervector_spark.sources.fixtures import test_website as website1_graph
from azuresearchcrawlervector_spark.sources.synthetic import images_df, pages_df


def _collect_state(spark, res):
    docs = sorted(
        (r["seq"], r["url"], r["id"], r["title"], r["content"],
         r["img_ok"], r["psnr_db"], r["caption_ok"])
        for r in res.documents(spark).collect()
    )
    seen = sorted((r["url_hash"], r["url"], r["iter"]) for r in res.seen(spark).collect())
    return docs, seen


def _metrics(spark, res):
    """The metrics table without its wall-clock column."""
    return sorted(tuple(r)[:-1] for r in res.metrics(spark).collect())


def test_kill_and_resume_bit_identical(spark, tmp_path):
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    pages = pages_df(spark, g)

    # uninterrupted reference run
    full = CrawlEngine(spark, pages, cfg, str(tmp_path / "full"),
                       validate_images=False).run()
    want = _collect_state(spark, full)

    # "killed" run: stop after 2 waves (simulates a mid-crawl crash — the
    # manifest for wave 2 is the last committed snapshot)
    killed = CrawlEngine(spark, pages, cfg, str(tmp_path / "crash"),
                         validate_images=False, max_iters=2)
    killed.run()
    m = killed.store.latest()
    assert m.iter == 2 and not m.finished  # mid-crawl snapshot, resumable

    resumed = CrawlEngine(spark, pages, cfg, str(tmp_path / "crash"),
                          validate_images=False).run(resume=True)
    got = _collect_state(spark, resumed)
    assert got == want


def test_resume_of_finished_run_is_noop(spark, tmp_path):
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD, max_pages=5)
    pages = pages_df(spark, g)
    eng = CrawlEngine(spark, pages, cfg, str(tmp_path / "c"), validate_images=False)
    first = eng.run()
    again = CrawlEngine(spark, pages, cfg, str(tmp_path / "c"),
                        validate_images=False).run(resume=True)
    assert again.manifest.iter == first.manifest.iter
    assert again.manifest.pages_fetched == first.manifest.pages_fetched


def test_snapshot_rollback(spark, tmp_path):
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    pages = pages_df(spark, g)
    eng = CrawlEngine(spark, pages, cfg, str(tmp_path / "c"), validate_images=False)
    res = eng.run()
    last = res.manifest.iter
    store = SnapshotStore(str(tmp_path / "c"))
    store.rollback_to(1)
    assert store.latest().iter == 1 and not store.latest().finished
    # resume from the rolled-back snapshot reaches the same final state
    res2 = CrawlEngine(spark, pages, cfg, str(tmp_path / "c"),
                       validate_images=False).run(resume=True)
    assert _collect_state(spark, res2) == _collect_state(spark, res)
    assert res2.manifest.iter == last


def test_truncated_tmp_manifest_ignored(tmp_path):
    """A crash between tmp write and os.replace leaves a vNNNNN.json.tmp
    that must be invisible to latest()/all_manifests() and cleaned by
    rollback_to() — resume reads only COMMITTED manifests."""
    from azuresearchcrawlervector_spark.plans.checkpoint import Manifest

    store = SnapshotStore(str(tmp_path / "ck"))
    store.commit(Manifest(iter=0, pending_path=None))
    store.commit(Manifest(iter=1, pending_path=None))
    mdir = tmp_path / "ck" / "manifest"
    # truncated tmp that sorts AFTER the last committed manifest
    (mdir / "v00002.json.tmp").write_text('{"iter": 2, "pend')
    assert store.latest().iter == 1
    assert [m.iter for m in store.all_manifests()] == [0, 1]
    store.rollback_to(0)
    assert store.latest().iter == 0
    assert not list(mdir.glob("*.tmp"))


def test_older_build_manifest_rejected_by_name(tmp_path):
    """A manifest an older build wrote (it carries config_fingerprint
    and the embed-queue fields) is refused with an error naming the
    fields, not a TypeError from the dataclass constructor."""
    store = SnapshotStore(str(tmp_path / "ck"))
    (tmp_path / "ck" / "manifest" / "v00000.json").write_text(
        '{"iter": 0, "pending_path": null, "config_fingerprint": "",'
        ' "embed_queue_path": null, "embed_queue_count": 0}')
    with pytest.raises(ValueError, match="config_fingerprint, embed_queue_count"
                       ", embed_queue_path.*older build"):
        store.latest()


@pytest.mark.parametrize("sketch,crash", [
    (False, "documents"), (True, "documents"), (True, "images"),
], ids=["no_sketch", "sketch", "images"])
def test_crash_in_write_phase_resumes_bit_identical(spark, tmp_path,
                                                    monkeypatch, sketch, crash):
    """A job of wave 2 fails while the wave's other jobs (frontier_log,
    pending', sketch merge) run beside it — the documents write, or
    (``images``) the image-check job off the fetch rows: no manifest
    past wave 1 is committed, the engine's sketch index stays at wave 1,
    and resuming on the same engine equals an uninterrupted crawl,
    image checks included."""
    import threading
    from dataclasses import replace

    from pyspark.sql import functions as F

    import azuresearchcrawlervector_spark.plans.crawl as crawl_mod

    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    if sketch:
        cfg = replace(cfg, seen_sketch_min_pages=0)
    pages = pages_df(spark, g)
    images = images_df(spark, g) if crash == "images" else None
    full = CrawlEngine(spark, pages, cfg, str(tmp_path / "full"),
                       images=images).run()

    real_write = SnapshotStore.write_delta
    real_validate = crawl_mod.with_image_validation
    log_started, crashes, checks = threading.Event(), [], []

    def flaky_write(self, df, table, iteration):
        if iteration == 2 and table == "frontier_log":
            log_started.set()
        if (crash == "documents" and iteration == 2
                and table == "documents" and not crashes):
            crashes.append(table)
            assert log_started.wait(timeout=60)
            raise RuntimeError("injected documents write failure")
        return real_write(self, df, table, iteration)

    def flaky_validate(df, *args, **kw):
        out = real_validate(df, *args, **kw)
        checks.append(len(checks) + 1)
        if checks[-1] == 2:  # wave 2's image check: its job raises
            crashes.append("images")
            out = out.withColumn("img_ok", F.raise_error(
                F.lit("injected image check failure")).cast("boolean"))
        return out

    monkeypatch.setattr(SnapshotStore, "write_delta", flaky_write)
    monkeypatch.setattr(crawl_mod, "with_image_validation", flaky_validate)
    eng = CrawlEngine(spark, pages, cfg, str(tmp_path / "crash"),
                      images=images)
    # the documents write raises in the driver; the image check's job
    # raises in Spark, which surfaces as a captured JVM exception
    with pytest.raises(RuntimeError if crash == "documents" else Exception,
                       match="injected"):
        eng.run()
    m = eng.store.latest()
    assert m.iter == 1 and not m.finished
    assert log_started.is_set()
    if sketch:
        assert eng._sketch_index == eng.store.read_sketch_index(
            m.seen_sketch_path)

    resumed = eng.run(resume=True)
    assert crashes == [crash]
    assert _collect_state(spark, resumed) == _collect_state(spark, full)
    assert _metrics(spark, resumed) == _metrics(spark, full)
    assert resumed.manifest.iter == full.manifest.iter


def test_incremental_seen_sketch_exact_and_resumable(spark, tmp_path):
    """Sketch path forced on at fixture scale (seen_sketch_min_pages=0):
    dedup stays EXACT (engine ≡ simulator), the sketch snapshot rides
    the manifest, and a killed crawl resumes loading the sketch from the
    checkpoint (fresh engine instance, no rebuild from the log)."""
    from dataclasses import replace

    from azuresearchcrawlervector_spark.simulator import simulate
    from azuresearchcrawlervector_spark.sources.synthetic import pages_df

    g = website1_graph()
    cfg = replace(
        CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD),
        seen_sketch_min_pages=0)
    pages = pages_df(spark, g)

    # one-shot reference run
    ref = CrawlEngine(spark, pages, cfg, str(tmp_path / "one"),
                      validate_images=False).run()
    assert ref.manifest.seen_sketch_path  # snapshot referenced

    # killed-after-2-waves + resume with a FRESH engine
    CrawlEngine(spark, pages, cfg, str(tmp_path / "two"),
                validate_images=False, max_iters=2).run()
    eng2 = CrawlEngine(spark, pages, cfg, str(tmp_path / "two"),
                       validate_images=False)
    res2 = eng2.run(resume=True)

    sim = simulate(g, cfg)
    for res in (ref, res2):
        got = sorted((r["seq"], r["url"]) for r in res.documents(spark).collect())
        want = sorted((d["seq"], d["url"]) for d in sim.documents)
        assert got == want
        assert {r["url"] for r in res.seen(spark).collect()} == sim.seen


def test_seen_sketch_gate_crossing(spark, tmp_path):
    """The sketch starts on the first wave that begins with
    seen_sketch_min_pages fetched: no index before it, the crawl still
    equals the simulator, and a crawl killed right after the crossing
    resumes identical."""
    import os
    from dataclasses import replace

    from azuresearchcrawlervector_spark.simulator import simulate

    g = website1_graph()
    cfg = replace(CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD),
                  seen_sketch_min_pages=2)
    pages = pages_df(spark, g)
    full = CrawlEngine(spark, pages, cfg, str(tmp_path / "full"),
                       validate_images=False).run()
    m1, m2, m3 = (full.store.manifest_at(k) for k in (1, 2, 3))
    # wave 1 fetches the root alone, wave 2 its children: the gate lies
    # between, so wave 3 is the first to build and probe the sketch
    assert m1.pages_fetched < cfg.seen_sketch_min_pages <= m2.pages_fetched
    assert m1.seen_sketch_path is None and m2.seen_sketch_path is None
    assert m3.seen_sketch_path.endswith("v00003.json")
    sim = simulate(g, cfg)
    assert sorted((r["seq"], r["url"]) for r in full.documents(spark).collect()) \
        == sorted((d["seq"], d["url"]) for d in sim.documents)
    assert {r["url"] for r in full.seen(spark).collect()} == sim.seen

    ck = str(tmp_path / "kill")
    CrawlEngine(spark, pages, cfg, ck, validate_images=False,
                max_iters=2).run()
    assert not os.path.exists(os.path.join(ck, "seen_sketch"))
    # killed right after the crossing wave, then resumed in fresh engines
    CrawlEngine(spark, pages, cfg, ck, validate_images=False,
                max_iters=3).run(resume=True)
    m = SnapshotStore(ck).latest()
    assert m.iter == 3 and not m.finished and m.seen_sketch_path
    resumed = CrawlEngine(spark, pages, cfg, ck,
                          validate_images=False).run(resume=True)
    assert _collect_state(spark, resumed) == _collect_state(spark, full)


def test_resume_from_monolithic_sketch_rebuilds(spark, tmp_path):
    """A manifest whose seen_sketch_path is the single Bloom .bin an
    older engine build wrote resumes through the frontier-log rebuild
    and equals an uninterrupted crawl."""
    import os
    import shutil
    from dataclasses import replace

    from azuresearchcrawlervector_spark.operators.seen import (
        BloomFilter, merged_sketch,
    )
    from azuresearchcrawlervector_spark.plans.crawl import seen_from_log

    g = website1_graph()
    cfg = replace(CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD),
                  seen_sketch_min_pages=1)
    pages = pages_df(spark, g)
    full = CrawlEngine(spark, pages, cfg, str(tmp_path / "full"),
                       validate_images=False).run()

    ck = str(tmp_path / "legacy")
    CrawlEngine(spark, pages, cfg, ck, validate_images=False,
                max_iters=3).run()
    store = SnapshotStore(ck)
    m = store.latest()
    assert m.iter == 3 and not m.finished
    # replace the snapshot with what an older build left: one Bloom file
    shutil.rmtree(os.path.join(ck, "seen_sketch"))
    seen = seen_from_log(store.read_table(spark, m, "frontier_log"),
                         cfg.seen_on_effective)
    n_bits = BloomFilter.sized_for(cfg.max_pages, cfg.bloom_bits_per_key).n_bits
    legacy = os.path.join(ck, "seen_sketch", "v00003.bin")
    os.makedirs(os.path.dirname(legacy))
    with open(legacy, "wb") as fh:
        fh.write(merged_sketch(seen, "url_hash", n_bits).bits.tobytes())
    m.seen_sketch_path = legacy
    store.commit(m)

    resumed = CrawlEngine(spark, pages, cfg, ck,
                          validate_images=False).run(resume=True)
    assert _collect_state(spark, resumed) == _collect_state(spark, full)
    # the rebuild snapshotted the seen set through the resumed manifest
    assert os.path.exists(os.path.join(ck, "seen_sketch", "v00003.json"))
    assert resumed.manifest.seen_sketch_path.endswith(".json")


def test_crawl_timeout_leaves_resumable_state(spark, tmp_path):
    """P5 (AbotCrawler.cs:165 analog): the wall-clock guard stops the
    loop mid-crawl with finished=False — exactly the state a kill
    leaves — and run(resume=True) completes to the same result as an
    uninterrupted crawl."""
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                      crawl_timeout_s=1)  # expires during wave 1
    eng = CrawlEngine(spark, pages_df(spark, g), cfg, str(tmp_path / "t"),
                      validate_images=False)
    res = eng.run()
    assert not res.manifest.finished
    assert res.manifest.pages_fetched < 19
    cfg2 = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    eng2 = CrawlEngine(spark, pages_df(spark, g), cfg2, str(tmp_path / "t"),
                       validate_images=False)
    res2 = eng2.run(resume=True)
    assert res2.manifest.finished
    urls = sorted(r["url"] for r in res2.documents(spark).collect())
    full = CrawlEngine(spark, pages_df(spark, g), cfg2,
                       str(tmp_path / "full"), validate_images=False).run()
    assert urls == sorted(r["url"] for r in full.documents(spark).collect())
    assert len(urls) == 19
