"""The traced run: event log, UDF profiler, wave stepping, layer replays.

The timed runs keep all of this off. Here the session writes an
uncompressed Spark event log; PySpark records a Python call site only
for collect jobs, so this run wraps the DataFrame actions to stamp every
job with the innermost program frame (``module:function:action``) as a
local property. Spans are recorded in the benchmark around each call
into the program; nothing in the program is changed.
"""

from __future__ import annotations

import functools
import glob
import itertools
import os
import pstats
import sys
import time

import fold

# UDF entry point → layer (functions/*.py)
UDF_LAYERS = {"extract_page_udf": "extract", "dual_embed_udf": "embed",
              "decode_validate_udf": "image", "canonicalize_udf": "links",
              "host_udf": "links"}


# ------------------------------------------------------------- stamping
def _program_site(action: str, calls) -> str | None:
    """``module:function:action#call`` of the innermost program frame;
    the call number groups the jobs one action launched."""
    f = sys._getframe(2)
    while f is not None:
        path = f.f_code.co_filename
        i = path.rfind(fold.PACKAGE + os.sep)
        if i >= 0:
            mod = path[i + len(fold.PACKAGE) + 1:-3].replace(os.sep, ".")
            return f"{mod}:{f.f_code.co_name}:{action}#{next(calls)}"
        f = f.f_back
    return None


def _stamped(fn, action, calls):
    @functools.wraps(fn)
    def wrapper(self, *a, **k):
        site = _program_site(action, calls)
        if site is None:  # a benchmark-side call keeps the site it set
            return fn(self, *a, **k)
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty(fold.SITE_PROP)
        sc.setLocalProperty(fold.SITE_PROP, site)
        try:
            return fn(self, *a, **k)
        finally:
            sc.setLocalProperty(fold.SITE_PROP, prev)
    return wrapper


def stamp_actions(spark) -> None:
    """Wrap the DataFrame actions the program calls (in this process
    only) so each job carries its program call site."""
    from pyspark.sql import DataFrameWriter
    frame = type(spark.range(0))  # the session's concrete DataFrame class
    calls = itertools.count()
    for cls, names in ((frame, ("collect", "count", "localCheckpoint",
                                "checkpoint", "toPandas")),
                       (DataFrameWriter, ("save", "parquet"))):
        for n in names:
            setattr(cls, n, _stamped(getattr(cls, n), n, calls))


class site:
    """Stamp jobs launched by the benchmark itself (layer replays)."""

    def __init__(self, spark, name: str):
        self.sc, self.name = spark.sparkContext, name

    def __enter__(self):
        self.sc.setLocalProperty(fold.SITE_PROP, self.name)

    def __exit__(self, *exc):
        self.sc.setLocalProperty(fold.SITE_PROP, None)


# --------------------------------------------------------------- stepping
class Stepper:
    """Drive an engine one wave per ``run(resume=True)`` by raising
    ``max_iters`` by one each call; one span per committed wave."""

    def __init__(self, tracer: fold.Tracer):
        self.tracer = tracer
        self.waves: list[dict] = []

    def drive(self, eng, resume: bool):
        limit = eng.max_iters
        m = eng.store.latest() if resume else None
        it = m.iter if m else 0
        while True:
            eng.max_iters = it + 1
            with self.tracer.span(f"wave{it + 1}") as sp:
                res = eng.run(resume=resume)
            resume = True
            done = res.manifest.iter
            if done == it + 1:
                sp["iter"] = done
                self.waves.append(sp)
            if res.manifest.finished or done <= it or done >= limit:
                return res
            it = done


# ------------------------------------------------------------- profiler
def udf_seconds(spark, out_dir: str) -> dict[str, float]:
    """Python time per layer from the perf UDF profiler (cumulative time
    of each UDF entry point), then clear the profiles."""
    spark.profile.dump(out_dir, type="perf")
    spark.profile.clear(type="perf")
    out: dict[str, float] = {}
    for path in glob.glob(os.path.join(out_dir, "**", "*.pstats"),
                          recursive=True):
        st = pstats.Stats(path)
        for (_file, _line, name), (_cc, _nc, _tt, ct, _callers) in st.stats.items():
            layer = UDF_LAYERS.get(name)
            if layer:
                out[layer] = out.get(layer, 0.0) + ct
        out["all"] = out.get("all", 0.0) + st.total_tt
    return out


def timed_noop(spark, name: str, df) -> float:
    """Force ``df`` with a noop write, stamped as ``name``; seconds."""
    with site(spark, name):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0


def _traced_session(bench) -> tuple[fold.Tracer, str]:
    stamp_actions(bench.spark)
    bench.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    return fold.Tracer(), bench.path("profile")


def _finish(bench, tracer: fold.Tracer) -> list[dict]:
    """Stop Spark (flushes the event log), fold it, keep the spans."""
    bench.stop()
    jobs = fold.read_event_log(bench.path("eventlog"))
    out = os.path.join(os.path.dirname(bench.work),
                       f"trace-{bench.args.workload}-{bench.args.seed}.json")
    tracer.counts["jobs"] = len(jobs)
    tracer.dump(out)
    return jobs


def _pass_metrics(bench, jobs, t0, t1, udf, traced_s) -> dict:
    inside = [j for j in jobs if j["start"] >= t0 and j["end"] <= t1]
    acc = fold.window_account(jobs, t0, t1)
    run_s = fold.sums(inside, "run_s")
    return {
        **{f"setup.{k}": v for k, v in bench.setup.items()},
        "mem.peak_rss_mb": bench.peak_rss_mb(),
        "spark.executor_cpu_s": fold.sums(inside, "cpu_s"),
        "spark.executor_run_s": run_s,
        "spark.gc_s": fold.sums(inside, "gc_s"),
        "spark.jobs": len(inside), "spark.tasks": fold.sums(inside, "tasks"),
        "spark.shuffle_write_bytes": fold.sums(inside, "shuffle_write_bytes"),
        "spark.spill_bytes": fold.sums(inside, "spill_bytes"),
        "spark.input_bytes": fold.sums(inside, "input_bytes"),
        "trace.pass_s": traced_s,
        "trace.accounted_frac": acc["accounted_frac"],
        "pass.driver_gap_frac": acc["gap_frac"],
        "pass.core_busy_frac": run_s / ((t1 - t0) * bench.cpus),
        "pass.udf_frac": udf.get("all", 0.0) / run_s if run_s else 0.0,
        **{f"{k}.udf_frac": v / run_s if run_s else 0.0
           for k, v in udf.items() if k != "all"},
    }


# ---------------------------------------------------------------- crawls
def traced_crawl(bench, web, crawl_pass, check) -> dict:
    tracer, prof = _traced_session(bench)
    step = Stepper(tracer)
    with tracer.span("pass") as sp:
        run = crawl_pass(web, bench.path("ckpt_traced"), step)
    udf = udf_seconds(bench.spark, prof)
    bench.spark.conf.unset("spark.sql.pyspark.udf.profiler")
    checks = check(web, run)
    with tracer.span("replays"):
        rep = crawl_replays(bench, web, run)
    jobs = _finish(bench, tracer)

    m, fetched = run["manifest"], run["manifest"].pages_fetched
    met = _pass_metrics(bench, jobs, sp["start"], sp["end"], udf,
                        run["pass_s"])
    waves = step.waves
    accs = [fold.window_account(jobs, w["start"], w["end"]) for w in waves]
    wall = sum(a["wall_s"] for a in accs)
    due = [r[2] for w in waves for r in _wave_rows(run["ckpt"], w["iter"])]
    icpt, slope = fold.linear_fit(due, [a["wall_s"] for a in accs])
    in_waves = [j for j in jobs if any(
        j["start"] < w["end"] and j["end"] > w["start"] for w in waves)]

    def module_frac(pred):
        return sum(fold.union_length(fold.clip(
            [j for j in in_waves if j["module"] and pred(j["module"])],
            w["start"], w["end"])) for w in waves) / wall

    main = ("plans.checkpoint", "plans.crawl", "sources.payload",
            "operators.seen")
    ckpt_bytes, ckpt_files = fold.dir_bytes(run["ckpt"])
    met.update({
        "crawl.waves": len(waves),
        "crawl.jobs_per_wave": fold.median([a["jobs"] for a in accs]),
        "crawl.tasks_per_wave": fold.median([a["tasks"] for a in accs]),
        "crawl.driver_gap_frac": sum(a["gap_s"] for a in accs) / wall,
        "trace.accounted_frac": sum(a["named_s"] + a["gap_s"]
                                    for a in accs) / wall,
        "crawl.wave_fixed_frac": min(1.0, max(0.0, icpt * len(waves) / wall)),
        "crawl.marginal_urls_per_s": 1.0 / slope if slope > 0 else 0.0,
        "crawl.core_busy_frac": fold.sums(in_waves, "run_s")
        / (wall * bench.cpus),
        **{f"jobs.{mod.replace('.', '_')}_frac": module_frac(
            lambda x, mod=mod: x == mod) for mod in main},
        "jobs.other_frac": module_frac(lambda x: x not in main),
        "fetch.scan_bytes_per_url": fold.sums(in_waves, "input_bytes") / fetched,
        "fetch.rows_scanned_per_url": fold.sums(in_waves, "input_records")
        / fetched,
        "fetch.shuffle_bytes_per_url": fold.sums(in_waves, "shuffle_write_bytes")
        / fetched,
        "fetch.dead_frac": (fetched - m.docs_emitted) / fetched,
        "crawl.urls_per_s": fetched / run["pass_s"],
        "crawl.image_rows_per_s": m.docs_emitted / run["pass_s"],
        "ckpt.bytes_per_url": ckpt_bytes / fetched,
        "ckpt.bytes_written_per_wave": ckpt_bytes / len(waves),
        "ckpt.files_per_wave": ckpt_files / len(waves),
        "ckpt.live_frac": _live_bytes(run["ckpt"], m) / ckpt_bytes,
        "ckpt.resume_over_wave": run["resume_s"]
        / fold.median([a["wall_s"] for a in accs]),
        "politeness.task_skew": fold.stage_skew(
            [j for j in jobs if j["module"] == "operators.politeness"]),
    })
    met.update(rep)
    return {"attempted": len(checks), "failed": sum(not ok for _, ok in checks),
            "metrics": met, "failures": [n for n, ok in checks if not ok],
            "report": {"pass_s": run["pass_s"]}}


def _wave_rows(ckpt: str, it: int) -> list:
    """The wave's global metrics row [iter, -1, due, _, ok, failed,
    new_links, wall_ms] from its manifest."""
    from azuresearchcrawlervector_spark.plans.checkpoint import SnapshotStore
    m = SnapshotStore(ckpt).manifest_at(it)
    return [r for r in (m.metrics_rows if m else []) if r[1] == -1]


def _live_bytes(ckpt: str, m) -> int:
    """Bytes the latest manifest references (deltas, pending, sketch)."""
    paths = [p for ps in m.deltas.values() for p in ps]
    paths += [p for p in (m.pending_path, m.seen_sketch_path) if p]
    total = 0
    for p in paths:
        total += (fold.dir_bytes(p)[0] if os.path.isdir(p)
                  else os.path.getsize(p) if os.path.exists(p) else 0)
    return total


def crawl_replays(bench, web, run) -> dict:
    """Replay each layer's public function on inputs captured from the
    traced checkpoint, forced with a noop write; rates per core-second."""
    import numpy as np
    from pyspark.sql import functions as F
    from azuresearchcrawlervector_spark.functions.embeddings import (
        make_dual_embed_udf,
    )
    from azuresearchcrawlervector_spark.functions.html import with_extraction
    from azuresearchcrawlervector_spark.functions.imagefn import (
        with_image_validation,
    )
    from azuresearchcrawlervector_spark.functions.urls import (
        canonicalize_udf, host_udf,
    )
    from azuresearchcrawlervector_spark.operators.politeness import (
        apply_politeness, salted_repartition,
    )
    from azuresearchcrawlervector_spark.operators.seen import (
        BloomFilter, anti_join_seen, merged_sketch,
    )
    from azuresearchcrawlervector_spark.plans.checkpoint import SnapshotStore

    spark, cpus, cfg = bench.spark, bench.cpus, web.config()
    store, m = SnapshotStore(run["ckpt"]), run["manifest"]
    out: dict[str, float] = {}

    def frozen(df, n: int = 4000):
        return df.limit(n).localCheckpoint(eager=True)

    def per_core(name, src, fn):
        """Rows of the frozen ``src`` per core-second through ``fn``."""
        n = src.count()
        return n / (timed_noop(spark, name, fn(src)) * cpus) if n else 0.0

    # operators.politeness on the largest pending set of the crawl
    big = max(store.all_manifests(), key=lambda x: x.pending_count)
    pending = spark.read.parquet(big.pending_path).localCheckpoint(eager=True)
    n_pend = big.pending_count
    if n_pend > web.budget:  # the engine skips the Window below this
        tagged = apply_politeness(pending, web.robots, cfg.iter_window_ms)
        out["politeness.rows_per_s"] = n_pend / timed_noop(
            spark, "operators.politeness:replay", tagged)
        out["politeness.carry_frac"] = tagged.filter(~F.col("due")).count() / n_pend
    parts = [r[0] for r in salted_repartition(pending, cfg.salt_partitions)
             .groupBy(F.spark_partition_id()).count().select("count").collect()]
    out["salt.partition_skew"] = max(parts) / fold.median(parts) if parts else 0.0

    live = web.pages.filter(F.col("status") == 200)
    out["extract.rows_per_core_s"] = per_core(
        "functions.html:replay", frozen(live.select("html")),
        lambda df: with_extraction(df, "html"))
    embed = make_dual_embed_udf(cfg.embedding_dim)
    out["embed.rows_per_core_s"] = per_core(
        "functions.embeddings:replay",
        frozen(spark.read.parquet(*m.deltas["documents"])
               .select("title", "content")),
        lambda df: df.select(embed(F.substring("title", 1, 8000),
                                   F.substring("content", 1, 8000))))
    for fmt in ("jpeg", "png"):
        out[f"{fmt}.decode_per_core_s"] = per_core(
            "functions.imagefn:replay",
            frozen(web.images.filter(F.col("fmt") == fmt), 2000),
            with_image_validation)
    out["image.rows_per_core_s"] = per_core(
        "functions.imagefn:replay", frozen(web.images, 2000),
        with_image_validation)
    out["links.rows_per_core_s"] = per_core(
        "functions.urls:replay",
        frozen(live.select("url", F.explode("links.href").alias("href")), 20000),
        lambda df: df.select(canonicalize_udf("url", "href"), host_udf("url")))

    # operators.seen: probe / merge / exact anti-join
    log = spark.read.parquet(*m.deltas["frontier_log"]).select(
        "url", "url_hash", "iter").localCheckpoint(eager=True)
    seen_h = np.array([r[0] for r in log.select("url_hash").collect()],
                      dtype=np.int64)
    fresh = spark.range(len(seen_h)).select(F.xxhash64(F.concat(
        F.lit("http://fresh.example.com/"), F.col("id").cast("string")))
        .alias("url_hash")).localCheckpoint(eager=True)
    new_h = np.array([r[0] for r in fresh.collect()], dtype=np.int64)
    bits = store.read_sketch(m.seen_sketch_path)
    if bits is not None:
        sk = BloomFilter(len(bits) * 8, bits=np.frombuffer(bits, np.uint8).copy())
        keys = np.concatenate([seen_h, new_h])
        t0 = time.monotonic()
        maybe = sk.contains_many(keys)
        out["seen.probe_keys_per_core_s"] = len(keys) / (time.monotonic() - t0)
        out["seen.maybe_frac"] = float(maybe.mean())
        out["seen.fp_frac"] = float(maybe[len(seen_h):].sum() / max(1, maybe.sum()))
    last = log.filter(F.col("iter") == m.iter).select("url_hash").localCheckpoint(
        eager=True)
    n_last = last.count()
    with site(spark, "operators.seen:replay"):
        t0 = time.monotonic()
        merged_sketch(last, "url_hash",
                      BloomFilter.sized_for(cfg.max_pages).n_bits)
        out["seen.merge_rows_per_s"] = n_last / (time.monotonic() - t0)
    cand = last.unionByName(fresh)
    out["seen.antijoin_rows_per_s"] = (n_last + len(new_h)) / timed_noop(
        spark, "operators.seen:replay",
        anti_join_seen(cand, log.select("url_hash"), None))
    per_wave = {r[0]: r[1] for r in log.groupBy("iter").count().collect()}
    hist, acc = [], 0
    for it in sorted(per_wave):
        hist.append(acc)
        acc += per_wave[it]
    out["seen.history_rows_per_wave"] = fold.median(hist)

    # functions.urls / imagefn outcomes over the crawl itself
    n_links = live.join(log.select("url"), "url").agg(
        F.sum(F.size("links"))).collect()[0][0] or 0
    new_links = sum(r[6] or 0 for mm in store.all_manifests()
                    for r in mm.metrics_rows if r[1] == -1)
    out["links.per_url"] = n_links / m.pages_fetched
    out["links.new_frac"] = new_links / n_links if n_links else 0.0
    ok = spark.read.parquet(*m.deltas["documents"]).agg(
        F.avg(F.col("img_ok").cast("double"))).collect()[0][0]
    out["image.ok_frac"] = float(ok or 0.0)
    return out


# ---------------------------------------------------------------- corpus
def traced_corpus(bench, ops, run_pass, check) -> dict:
    from corpus_ops import GRAPH_ITERS, QUERIES
    tracer, prof = _traced_session(bench)
    stamped = {name: _site_op(bench.spark, f"q.{name}", op)
               for name, op in ops.items()}
    with tracer.span("pass") as sp:
        res = run_pass(stamped, tracer)
    udf = udf_seconds(bench.spark, prof)
    checks = check(res)
    jobs = _finish(bench, tracer)

    met = _pass_metrics(bench, jobs, sp["start"], sp["end"], udf,
                        res["pass_s"])
    spans = {s["name"]: s for s in tracer.spans if s["parent"] == "pass"}
    wall = sp["end"] - sp["start"]
    for q in QUERIES:
        s = spans[q]
        inside = [j for j in jobs
                  if j["start"] >= s["start"] and j["end"] <= s["end"]]
        met[f"q.{q}.frac"] = (s["end"] - s["start"]) / wall
        met[f"q.{q}.jobs"] = len(inside)
        met[f"q.{q}.shuffle_bytes"] = fold.sums(inside, "shuffle_write_bytes")
    first = last = n_jobs = 0.0
    for g in ("pagerank", "hits"):
        s = spans[g]
        met[f"graph.{g}_frac"] = (s["end"] - s["start"]) / wall
        inside = [j for j in jobs
                  if j["start"] >= s["start"] and j["end"] <= s["end"]]
        n_jobs += len(inside)
        iters = iteration_times(inside, GRAPH_ITERS)
        if iters:
            first, last = first + iters[0], last + iters[-1]
    met["graph.last_over_first_iter"] = last / first if first else 0.0
    met["graph.jobs_per_iter"] = n_jobs / (2 * GRAPH_ITERS)
    return {"attempted": len(checks), "failed": sum(not ok for _, ok in checks),
            "metrics": met, "failures": [n for n, ok in checks if not ok],
            "report": {"pass_s": res["pass_s"]}}


def _site_op(spark, name, op):
    def run():
        with site(spark, name):
            df = op()
        return _SiteFrame(spark, name, df)
    return run


class _SiteFrame:
    """A result whose collect() runs under the query's site stamp."""

    def __init__(self, spark, name, df):
        self.spark, self.name, self.df = spark, name, df
        self.columns = df.columns

    def collect(self):
        with site(self.spark, self.name):
            return self.df.collect()


def iteration_times(jobs: list[dict], iters: int) -> list[float]:
    """Per-iteration wall of an iterative operator: each round ends with
    eager localCheckpoint calls; the first checkpoint is the node set."""
    calls: dict[str, float] = {}
    for j in jobs:
        site = j["site"] or ""
        if ":localCheckpoint#" in site:
            calls[site] = max(calls.get(site, 0.0), j["end"])
    ends = sorted(calls.values())
    if len(ends) < iters + 1:
        return []
    per = (len(ends) - 1) // iters
    marks = [ends[0]] + [ends[k * per] for k in range(1, iters + 1)]
    return [b - a for a, b in zip(marks, marks[1:])]
