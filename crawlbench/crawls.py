"""The two crawl workloads: ``crawl_bulk`` and ``crawl_polite``.

A pass is one crawl from seeds to the finished manifest through the
public ``CrawlEngine``. ``crawl_polite`` stops after ``stop_after``
waves and resumes on a fresh engine. Workloads set only the crawl
request (seeds, max_pages, max_depth, iter_window_ms, robots delays) and
the input layout (payload_buckets); every engine knob keeps its default.
"""

from __future__ import annotations

import collections
import os
import time

import duckdb

import fold
import inputs
import tracing

SPECS = {
    # a few large unbound waves; max_pages at the engine's default
    # seen-sketch threshold, so the incremental sketch is maintained
    "crawl_bulk": dict(n_urls=8000, n_hosts=24, fanout=64,
                       window_ms=3_600_000, max_pages=50_000, buckets=16,
                       stop_after=0),
    # the per-host budget (window / 100 ms crawl delay) binds on the hot
    # hosts, max_pages < web size, stop + resume on a fresh engine
    "crawl_polite": dict(n_urls=1200, n_hosts=8, fanout=16, window_ms=8_000,
                         max_pages=436, buckets=32, stop_after=2),
}
CRAWL_DELAY_MS = 100
MAX_DEPTH = 64
INGEST_REPS = 2


class Web:
    """The seeded web of one run and its ingested payload tables."""

    def __init__(self, bench, spec):
        from azuresearchcrawlervector_spark.sources.synthetic import robots_df
        self.bench, self.spec = bench, spec
        seed = bench.args.seed
        self.hosts = [inputs.host_name(i, seed) for i in range(spec["n_hosts"])]
        self.sizes = inputs.web_shape(spec["n_urls"], spec["n_hosts"])
        spark = bench.spark
        self.raw_images = inputs.image_pool(
            spark, bench.cache, spec["n_urls"], spec["n_hosts"])
        self.raw_pages = inputs.web_pages(
            spark, bench.path("raw_pages"), spec["n_urls"], spec["n_hosts"],
            spec["fanout"], seed)
        self.robots = robots_df(spark, self.hosts, crawl_delay_ms=CRAWL_DELAY_MS)
        self.seeds = [f"http://{h}/" for h in self.hosts]
        self.pages = self.images = None

    def ingest(self, rep: int) -> float:
        """Bucketed payload write (``write_bucketed_payload``) — set-up."""
        from azuresearchcrawlervector_spark.sources.payload import (
            write_bucketed_payload,
        )
        spark, b = self.bench.spark, self.spec["buckets"]
        t0 = time.monotonic()
        pp, ip = self.bench.path(f"pages_{rep}"), self.bench.path(f"images_{rep}")
        write_bucketed_payload(spark.read.parquet(self.raw_pages), pp, "url", b)
        write_bucketed_payload(spark.read.parquet(self.raw_images), ip,
                               "image_id", b)
        self.pages, self.images = spark.read.parquet(pp), spark.read.parquet(ip)
        return time.monotonic() - t0

    def config(self):
        from azuresearchcrawlervector_spark.config import CrawlConfig
        s = self.spec
        return CrawlConfig(root_url=self.seeds[0], max_pages=s["max_pages"],
                           max_depth=MAX_DEPTH, iter_window_ms=s["window_ms"],
                           payload_buckets=s["buckets"])

    def engine(self, ckpt: str, max_iters: int = 1000):
        from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
        return CrawlEngine(self.bench.spark, self.pages, self.config(), ckpt,
                           images=self.images, robots=self.robots,
                           seeds=self.seeds, max_iters=max_iters)

    @property
    def budget(self) -> int:
        return max(1, self.spec["window_ms"] // CRAWL_DELAY_MS)


def setup(bench, spec) -> tuple[Web, float]:
    """Session, warm-up, inputs; then ingest + engine construction
    INGEST_REPS times. setup_s = session + warm + median(ingest + build)."""
    bench.start()
    t0 = time.monotonic()
    web = Web(bench, spec)
    bench.phases["inputs_s"] = time.monotonic() - t0
    reps = []
    for r in range(INGEST_REPS):
        ingest_s = web.ingest(r)
        t0 = time.monotonic()
        web.engine(bench.path(f"ckpt_setup_{r}"))
        reps.append((ingest_s + time.monotonic() - t0, ingest_s))
    build_s = fold.median([t for t, _ in reps])
    bench.setup["ingest_s"] = fold.median([i for _, i in reps])
    setup_s = bench.setup["session_s"] + bench.setup["warm_s"] + build_s
    return web, setup_s


def crawl_pass(web: Web, ckpt: str, step: "tracing.Stepper | None" = None) -> dict:
    """One crawl to the finished manifest. With ``step`` the engine is
    driven one wave per ``run(resume=True)`` (the traced run)."""
    stop_after = web.spec["stop_after"]
    eng = web.engine(ckpt, max_iters=stop_after or 1000)
    t0 = time.time()
    res = step.drive(eng, resume=False) if step else eng.run()
    resume_s = 0.0
    if stop_after and not res.manifest.finished:
        t_r = time.time()
        eng = web.engine(ckpt)
        res = step.drive(eng, resume=True) if step else eng.run(resume=True)
        first = dict(fold.manifest_mtimes(ckpt)).get(stop_after + 1)
        resume_s = (first - t_r) if first else 0.0
    pass_s = time.time() - t0
    waves = fold.wave_intervals(fold.manifest_mtimes(ckpt))
    return {"pass_s": pass_s, "waves": waves, "resume_s": resume_s,
            "manifest": res.manifest, "ckpt": ckpt, "t0": t0}


# ------------------------------------------------------------ reference
def model_waves(web: Web) -> list[list[str]]:
    """The crawl's wave contents as an uninterrupted run defines them:
    BFS priority ``depth|path``, per-host budget first, then the global
    max_pages cap — computed from the tree shape alone."""
    pending = {inputs.page_url(h, 0): (f"000|{i:05d}", i, 0, f"{i:05d}", 0)
               for i, h in enumerate(web.hosts)}
    waves, fetched, cap = [], 0, web.spec["max_pages"]
    while pending and fetched < cap:
        per_host, due = collections.Counter(), []
        for url, row in sorted(pending.items(), key=lambda kv: kv[1][0]):
            if per_host[row[1]] < web.budget:
                per_host[row[1]] += 1
                due.append((url, row))
        due = due[:cap - fetched]
        waves.append([u for u, _ in due])
        fetched += len(due)
        for url, (_p, i, j, path, d) in due:
            del pending[url]
            for pos, k in enumerate(
                    inputs.children(j, web.sizes[i], web.spec["fanout"])):
                cpath = f"{path}.{pos:05d}"
                pending[inputs.page_url(web.hosts[i], k)] = (
                    f"{d + 1:03d}|{cpath}", i, k, cpath, d + 1)
    return waves


def _files(paths) -> list[str]:
    out = []
    for p in paths:
        out.extend(os.path.join(p, f) for f in os.listdir(p)
                   if f.endswith(".parquet"))
    return out


def check(web: Web, run: dict) -> list[tuple[str, bool]]:
    """Correctness checks on a finished pass (outside the timed window)."""
    m = run["manifest"]
    con = duckdb.connect()
    log = _files(m.deltas.get("frontier_log", []))
    docs = _files(m.deltas.get("documents", []))
    con.execute(f"CREATE VIEW log AS SELECT * FROM read_parquet({log!r})")
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet({docs!r})")
    con.execute("CREATE VIEW pages AS SELECT * FROM read_parquet("
                f"'{web.raw_pages}/*.parquet')")
    waves = model_waves(web)
    want = {u for w in waves for u in w}
    got = [r[0] for r in con.execute("SELECT url FROM log").fetchall()]
    dead = {r[0] for r in con.execute(
        "SELECT url FROM pages WHERE status <> 200").fetchall()}
    doc_rows = con.execute(
        "SELECT url, img_ok, caption_ok FROM docs").fetchall()
    per_wave = collections.defaultdict(set)
    for it, url in con.execute("SELECT iter, url FROM log").fetchall():
        per_wave[it].add(url)
    worst = con.execute("SELECT max(n) FROM (SELECT count(*) n FROM log "
                        "GROUP BY iter, host)").fetchone()[0]
    results = [
        ("fetched_within_cap",
         m.finished and m.pages_fetched == len(want) <= web.spec["max_pages"]),
        ("fetched_exactly_once", len(got) == len(set(got)) == len(want)),
        ("fetched_expected_set", set(got) == want),
        ("live_pages_documented",
         {u for u, _, _ in doc_rows} == want - dead
         and len(doc_rows) == len(want - dead)),
        ("images_and_captions_ok",
         all(ok is True and cap is True for _, ok, cap in doc_rows)),
        ("host_budget_per_wave", worst is not None and worst <= web.budget),
        # the same documents and seen set, wave by wave, as an
        # uninterrupted run (crawl_polite stops and resumes mid-crawl)
        ("waves_match_uninterrupted",
         [per_wave[i + 1] for i in range(len(waves))] == [set(w) for w in waves]
         and len(per_wave) == len(waves)),
    ]
    con.close()
    return results


# ------------------------------------------------------------------ run
def run(bench) -> dict:
    spec = SPECS[bench.args.workload]
    web, setup_s = setup(bench, spec)
    if bench.args.trace:
        return tracing.traced_crawl(bench, web, crawl_pass, check)
    runs, t_end = [], time.monotonic() + bench.args.seconds
    while not runs or time.monotonic() < t_end:
        runs.append(crawl_pass(web, bench.path(f"ckpt_{len(runs)}")))
    t0 = time.monotonic()
    checks = [c for r in runs for c in check(web, r)]
    bench.phases["checks_s"] = time.monotonic() - t0
    report = {
        "urls_per_s": fold.median([r["manifest"].pages_fetched / r["pass_s"]
                                   for r in runs]),
        "wave_p50_s": fold.median([w for r in runs for w in r["waves"]]),
        "resume_s": fold.median([r["resume_s"] for r in runs]),
        "ckpt_bytes_per_url": fold.dir_bytes(runs[-1]["ckpt"])[0]
        / max(1, runs[-1]["manifest"].pages_fetched),
        "peak_rss_mb": bench.peak_rss_mb(),
        "passes": len(runs), **bench.setup, **bench.phases,
    }
    docs = runs[-1]["manifest"].docs_emitted
    report["image_rows_per_s"] = docs / fold.median([r["pass_s"] for r in runs])
    metrics = {
        "setup_s": setup_s,
        "pass_s": fold.median([r["pass_s"] for r in runs]),
        "step_geomean_s": fold.median([fold.geomean(r["waves"]) for r in runs]),
    }
    return {"attempted": len(checks), "failed": sum(not ok for _, ok in checks),
            "metrics": metrics, "report": report,
            "failures": [n for n, ok in checks if not ok]}
