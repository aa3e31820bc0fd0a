"""The frontier engine: ONE iterative dataflow, three traversal policies.

Replaces the reference's three crawler classes (AbotCrawler /
SitemapCrawler / HeadlessBrowserCrawler — SURVEY.md §3) with a single
driver loop over an explicit frontier table. Each iteration ("wave") is a
declarative DataFrame plan; Catalyst/AQE pick physical strategies; the
loop is the only imperative code.

Wave dataflow (SURVEY.md §3.1 "Spark equivalent lifecycle"):

  pending ─ dedupe(min priority per url_hash)
          ─ politeness budget (Window per host, BEFORE salting — P1)
          ─ global maxPages cap (TakeOrderedAndProject on priority — A1)
          ─ salted repartition (P2, hot-host skew)
          ─ fetch-join against the pages table (J5; status filter F3)
          ─ extraction UDF (T1/T2, one parse per page; selector F5/F6;
            links leave it canonical — J4)
          ─ image probe + decode/validate UDF (PSNR + caption invariant),
            off the fetch rows, beside the extraction
          ─ documents append (id = sha2(url,512) — T5)
          ─ link explode → F1 filter → same-host F2 → depth gate A2
            → anti-join seen (Bloom + exact, J1-J3)
          ─ commit snapshot (pending' / seen Δ / documents Δ / metrics Δ)

Traversal policies as priority keys (O1-O3):
  STANDARD  priority = f"{depth:03d}|{path}"   (FIFO-BFS schedule order)
  HEADLESS  priority = path                    (DFS preorder; the wave is
            capped to ONE page per iteration — preorder in a cyclic graph
            is inherently sequential, SURVEY.md §7.3; correctness mode)
  SITEMAP   priority = f"{seq:09d}"            (sitemap document order)
where path = "{seed:05d}.{link_pos:05d}.{...}" accumulates along the
discovery path, so lexicographic order on (depth, path) reproduces the
single-thread-equivalent FIFO schedule the oracle asserts.

Invariant maintained across waves: pending ∩ seen = ∅ — new links are
exact-deduped (Bloom-prefiltered) at append time, fetched rows leave
pending, so no per-wave re-dedup of the whole frontier is needed.
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import CrawlConfig, CrawlMode, SeenOn
from ..core.urls import canonicalize, host_of
from ..functions.embeddings import make_dual_embed_udf
from ..functions.html import with_extraction
from ..functions.imagefn import with_image_validation
from ..functions.urls import doc_id_col, href_is_crawlable_col, url_hash_col
from ..operators.politeness import apply_politeness, salted_repartition
from ..operators.seen import (
    BloomFilter, ShardedSketchFiles, anti_join_seen, merge_delta_sharded_files,
    merged_sketch, split_by_sketch,
)
from .checkpoint import PENDING_SCHEMA, Manifest, SnapshotStore

SEEN_SCHEMA = "url_hash long, url string, iter int"

# ramp-up waves (pending below this many rows) narrow-coalesce the fetched
# rows before the UDF stages: they inherit the pages-scan split count, and
# running every Arrow-UDF stage as 30+ near-empty tasks is pure
# scheduling overhead
COALESCE_BELOW_ROWS = 4000
# big waves (pending above this many rows) reshuffle the fetched rows to
# full parallelism: the UDF stages inherit this partitioning, and a wave
# that came out of a few coarse scan splits would starve the executors
REPARTITION_ABOVE_ROWS = 5000
# rows per task the ramp-up coalesce and the visit-order range partition
# size small waves to, instead of one task per core
ROWS_PER_UDF_TASK = 500
# payload bucket pruning runs while pending < this × payload_buckets:
# expected untouched buckets ≈ B·e^(−n/B) is under 2% once n ≥ 4B, where
# the bounded bucket-id collect can't pay for itself and a wave that
# touches every bucket reads the table in proportion to useful work anyway
BUCKET_PRUNE_ROWS_PER_BUCKET = 4
# waves up to this many rows broadcast-probe the payload tables (big
# side streamed, never shuffled). Larger waves switch to the
# SKETCH-FILTERED fetch: a Bloom sketch of the wave's url hashes (built
# in parallel, ~2 bytes/key) filters the payload scan on the executors,
# then a wave-sized shuffle join resolves exactly — driver-side
# broadcast build time would otherwise grow linearly with wave size and
# serialize the whole crawl.
BROADCAST_WAVE_ROWS = 100_000
# A1 binding-cap strategy: above this K, orderBy().limit(K) (a
# driver-side merge of up to K rows per partition) is replaced by the
# exact range-partitioned top-K (_topk_by_priority) — driver traffic
# drops to one count per partition
TOPK_RANGE_ABOVE_ROWS = 50_000


def seen_from_log(log: DataFrame | None, seen_on: SeenOn) -> DataFrame | None:
    """The seen table is a PROJECTION of the frontier log (one write
    instead of two per wave): SCHEDULE mode = every attempted URL,
    SUCCESS mode = successfully fetched only."""
    if log is None:
        return None
    rows = log if seen_on == SeenOn.SCHEDULE else log.filter(F.col("state") == "fetched")
    return rows.select("url_hash", "url", "iter")


@dataclass
class CrawlResult:
    store: SnapshotStore
    manifest: Manifest
    seen_on: SeenOn = SeenOn.SCHEDULE

    def documents(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_table(spark, self.manifest, "documents")

    def seen(self, spark: SparkSession) -> DataFrame | None:
        return seen_from_log(self.frontier_log(spark), self.seen_on)

    def metrics(self, spark: SparkSession) -> DataFrame | None:
        # metrics is a parquet delta table (one tiny driver-written file
        # per wave) — reading it never scales with crawl length on the
        # driver
        return self.store.read_table(spark, self.manifest, "metrics")

    def frontier_log(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_table(spark, self.manifest, "frontier_log")


def _split_log_segments(paths: list[str]) -> tuple[list[str], list[str]]:
    """Classify frontier-log files into (compacted segments, delta tail).

    Segments are ANY non-delta file (L1 ``compact_`` and L2 ``compact2_``
    alike) — classifying by "does not start with delta_" rather than a
    level-specific substring is what keeps an L2 fold's output in the
    segment set; a misclassified L2 file would be re-read and rewritten
    by every subsequent L1 merge, reinstating O(total²/K) behavior.
    """
    import os
    segments = [p for p in paths
                if not os.path.basename(p).startswith("delta_")]
    tail = [p for p in paths if p not in segments]
    return segments, tail


def _compact_deltas(spark: SparkSession, store, table: str,
                    paths: list[str], iteration: int, k: int) -> list[str]:
    """2-level incremental LSM-style compaction of a delta-file list
    (see the frontier_log commentary in _wave): merge the uncompacted
    delta TAIL into an L1 segment once it reaches k files; fold L1
    segments into one L2 when they reach k. Earlier segments are never
    re-read by an L1 merge, so per-wave compaction I/O is bounded by
    recent-delta volume. Applied to EVERY delta table (frontier_log,
    documents, metrics) — beyond read fan-in, this bounds the manifest's
    path-list length, which is rewritten every wave and would otherwise
    grow O(waves) (O(waves²) cumulative manifest I/O on a long crawl).
    Old files stay on disk so earlier manifests remain readable."""
    segments, tail = _split_log_segments(paths)
    if len(tail) >= k:
        seg = store.delta_path(table, iteration).replace("delta_", "compact_")
        spark.read.parquet(*tail).write.mode("overwrite").parquet(seg)
        segments, tail = segments + [seg], []
        if len(segments) >= k:
            l2 = store.delta_path(table, iteration).replace(
                "delta_", "compact2_")
            spark.read.parquet(*segments).write.mode("overwrite").parquet(l2)
            segments = [l2]
    return segments + tail


def _seed_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Seed rows (every pending column but ``url_hash``, in
    PENDING_SCHEMA order) as a pending table. The hash is added with the
    links stage's expression, so a seed and a discovered link hash
    alike."""
    schema = StructType(
        [f for f in PENDING_SCHEMA.fields if f.name != "url_hash"])
    return (spark.createDataFrame(rows, schema)
            .withColumn("url_hash", url_hash_col("url"))
            .select(*PENDING_SCHEMA.fieldNames()))


def _first_per_url(df: DataFrame) -> DataFrame:
    """The min-priority (first-discovered) row of each url_hash."""
    w_url = Window.partitionBy("url_hash").orderBy(F.col("priority").asc())
    return (df.withColumn("_rn", F.row_number().over(w_url))
            .filter(F.col("_rn") == 1).drop("_rn"))


@dataclass
class _Wave:
    """What the stages of one wave share: the manifest it starts from,
    its iteration and start time, whether it is small enough to
    broadcast-probe the payload tables, and the caches and broadcasts to
    release once its jobs are done (a long crawl would otherwise
    accumulate stale blocks on the driver and executors)."""

    m: Manifest
    i: int
    t0: float
    small: bool
    unpersist: list = field(default_factory=list)
    broadcasts: list = field(default_factory=list)

    def release(self) -> None:
        for df in self.unpersist:
            df.unpersist()
        for b in self.broadcasts:
            b.unpersist()


def _priority_expr(mode: CrawlMode):
    if mode == CrawlMode.STANDARD:
        return F.concat(F.format_string("%03d", F.col("depth")), F.lit("|"), F.col("path"))
    return F.col("path")  # HEADLESS: pure DFS path key


class CrawlEngine:
    """Batch-iterative crawl over (pages, images, robots) fixture tables.

    In a live deployment the fetch-join (J5) would be an async HTTP pool
    inside mapInPandas; per BASELINE.json the graft resolves fetches
    against the image+caption table — the dataflow is identical.
    """

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        cfg: CrawlConfig,
        checkpoint_dir: str,
        images: DataFrame | None = None,
        robots: DataFrame | None = None,
        seeds: list[str] | None = None,
        track_order: bool = True,
        validate_images: bool = True,
        max_iters: int = 1000,
        seed_pending: DataFrame | None = None,
        dry_run: bool = False,
        extractor=None,
        console=None,
    ):
        self.spark = spark
        # S5 rendered-DOM fidelity: HEADLESS crawls the post-JS DOM
        # (HeadlessBrowserCrawler.cs:127-150) — when the pages table
        # carries an html_rendered column, headless fetches it (NULL →
        # fall back to static html); STANDARD always fetches static html.
        if cfg.mode == CrawlMode.HEADLESS and "html_rendered" in pages.columns:
            pages = pages.withColumn(
                "html", F.coalesce("html_rendered", "html"))
        self.pages = pages
        self.images = images
        # every wave broadcasts the robots table into the politeness
        # join: cache it so a wave does not re-run its lineage (for a
        # createDataFrame table that is a Python job per wave). The
        # max(crawl_delay_ms) collect below fills the cache, so engine
        # construction still runs one job; persist (not a checkpoint)
        # keeps the lineage, so a lost executor recomputes the table.
        self.robots = robots.persist() if robots is not None else None
        self.cfg = cfg
        self.store = SnapshotStore(checkpoint_dir)
        self.seeds = seeds or [cfg.root_url]
        self.track_order = track_order
        self.validate_images = validate_images and images is not None
        self.max_iters = max_iters
        self.seed_pending = seed_pending
        # dry-run: crawl (frontier/seen/metrics advance) but emit no
        # documents (AzureSearchIndexer.cs:151-155)
        self.dry_run = dry_run
        # U1 extension point: the reference's virtual TextExtractor
        # (TextExtractor.cs:19) — pass a custom (df, html_col, selector)
        # -> df+title/content/links function to swap extraction. Links
        # must carry the canonical url/host (functions/html.LINK_TYPE);
        # wrapping with_extraction gives them
        self.extractor = extractor or with_extraction
        self._embed_udf = make_dual_embed_udf(cfg.embedding_dim)
        # S11 leveled console (driver-side; executors report via the
        # metrics table). Quiet INFORMATION-level by default.
        from ..core.console import Console
        self.console = console if console is not None else Console()
        # P1 fast path precompute: the smallest possible per-host budget
        # this crawl can see (worst crawl-delay, one tiny dim-table action
        # at init). When that floor already exceeds a wave's pending
        # count, NO host's budget can bind and the per-host ranking
        # Window is skipped — that Window is the one non-scaling stage
        # in the wave (the hottest host's rows form a single task), so
        # skipping it when it provably cannot change the result keeps
        # wave cost core-scalable.
        from ..config import DEFAULT_CRAWL_DELAY_MS
        max_delay = DEFAULT_CRAWL_DELAY_MS
        if self.robots is not None:
            row = self.robots.agg(F.max("crawl_delay_ms")).collect()[0][0]
            max_delay = max(int(row or 0), DEFAULT_CRAWL_DELAY_MS)
        self._min_host_budget = max(1, cfg.iter_window_ms // max_delay)
        # payload bucket pruning (sources/payload.py): active when the
        # config says the tables are bucketed AND the column is present
        self._pages_bucketed = (
            cfg.payload_buckets > 0 and "bucket" in pages.columns)
        self._images_bucketed = (
            cfg.payload_buckets > 0 and images is not None
            and "bucket" in images.columns)
        # J1-J3 seen sketch: sized for maxPages once, cut into S
        # power-of-two shards of at most seen_sketch_shard_bits
        # (S = 1 up to 16 MB by default). The driver's ONLY sketch state
        # is the tiny {shard -> latest bin file} index (None until the
        # gate's first wave loads or builds it) — shard bits live in
        # store files, probed (ShardedSketchFiles) and merged
        # (merge_delta_sharded_files) executor-side.
        sized_bits = BloomFilter.sized_for(
            cfg.max_pages, cfg.bloom_bits_per_key).n_bits
        self._shard_bits = min(sized_bits, cfg.seen_sketch_shard_bits)
        self._n_shards = sized_bits // self._shard_bits
        self._sketch_index: dict[int, str] | None = None

    def _open_sketch(self, m: Manifest, seen_prev) -> ShardedSketchFiles:
        """Probe handle over the sketch snapshot through wave ``m.iter``
        — exactly the seen set this wave's anti-join is against (the
        merge of this wave's delta runs in the tail, after the pending
        write has consumed the handle).

        The driver NEVER holds shard bits (round-3 VERDICT #1). A fresh
        engine loads the index from the manifest and validates it by
        file size only (files are tmp+rename atomic and version-
        immutable, so existence+size is integrity). Without a valid
        index — the gate's first wave, or a manifest whose sketch an
        older engine build wrote as one .bin — the snapshot is rebuilt
        from the seen projection with the executor-side writer, because
        the probe reads shard FILES: the index must reflect the full
        seen set before any probe (a stale/missing shard would mean
        Bloom false negatives, i.e. lost dedup)."""
        if self._sketch_index is None:
            index = self.store.read_sketch_index(m.seen_sketch_path)
            nbytes = self._shard_bits // 8
            if index is not None and all(
                    0 <= s < self._n_shards
                    and self.store.sketch_file_size(p) == nbytes
                    for s, p in index.items()):
                self._sketch_index = dict(index)
            elif seen_prev is not None and m.pages_fetched > 0:
                self._sketch_index = merge_delta_sharded_files(
                    seen_prev.select("url_hash"), "url_hash",
                    self._n_shards, self._shard_bits, {},
                    self.store.sketch_dir(), m.iter)
                self.store.write_sketch_index(self._sketch_index, m.iter)
            else:
                self._sketch_index = {}
        return ShardedSketchFiles(self._n_shards, self._shard_bits,
                                  dict(self._sketch_index))

    def _merge_seen_delta(self, seen_delta: DataFrame,
                          i: int) -> tuple[dict[int, str], str]:
        """Fold wave ``i``'s seen delta into the sketch snapshot; return
        the new index and its file. File-side merge: each task ORs its
        delta shard into the previous snapshot file and writes the new
        version DIRECTLY to the store; clean shards keep their previous
        (immutable) file. Per-wave snapshot I/O is bounded by the
        delta's shard coverage and the driver handles only the
        {shard: path} rows. The engine adopts the index only once the
        wave's manifest has committed (_commit)."""
        dirty = merge_delta_sharded_files(
            seen_delta.select("url_hash"), "url_hash",
            self._n_shards, self._shard_bits,
            self._sketch_index, self.store.sketch_dir(), i)
        index = {**self._sketch_index, **dirty}
        return index, self.store.write_sketch_index(index, i)

    # ------------------------------------------------------------------ seed
    def _seed_pending(self) -> DataFrame:
        if self.seed_pending is not None:
            return self.seed_pending
        rows = []
        for i, s in enumerate(self.seeds):
            u = canonicalize(None, s)
            if u is None:  # F7 malformed-seed guard (CrawlerMain.cs:271-275)
                continue
            rows.append((u, host_of(u), host_of(u), 0,
                         f"{i:05d}", "", None, None, 0, 0))
        return _seed_frame(self.spark, rows).withColumn(
            "priority", _priority_expr(self.cfg.mode))

    # ------------------------------------------------------------------ run
    def run(self, resume: bool = False) -> CrawlResult:
        m = self.store.latest() if resume else None
        if m is None:
            pending = self._seed_pending()
            path = self.store.write_pending(pending, 0)
            n = self.spark.read.parquet(path).count()
            m = Manifest(iter=0, pending_path=path, deltas={},
                         pages_fetched=0, pending_count=n)
            self.store.commit(m)
        if m.finished:
            return CrawlResult(self.store, m, self.cfg.seen_on_effective)

        timeout_s = self.cfg.crawl_timeout_s or max(600, self.cfg.max_pages * 10)
        wall_guard = time.monotonic() + timeout_s  # P5 analog (AbotCrawler.cs:165)
        self.console.write_debug_line(
            f"crawl start: seeds={len(self.seeds)} mode={self.cfg.mode.value}"
            f" maxPages={self.cfg.max_pages} maxDepth={self.cfg.max_depth}"
            f" resume_iter={m.iter}")
        while m.iter < self.max_iters and time.monotonic() < wall_guard:
            m = self._wave(m)
            if m.finished:
                break
        self.console.write_debug_line(
            f"crawl end: iter={m.iter} fetched={m.pages_fetched}"
            f" docs={m.docs_emitted} finished={m.finished}")
        # NOTE: stopping on max_iters / wall-clock leaves finished=False —
        # exactly the state a kill leaves, so run(resume=True) continues.
        return CrawlResult(self.store, m, self.cfg.seen_on_effective)

    # --------------------------------------------------------------- helpers
    def _topk_by_priority(self, df: DataFrame, k: int, w: _Wave) -> DataFrame:
        """EXACT top-k rows of ``df`` by priority. Up to
        TOPK_RANGE_ABOVE_ROWS this is orderBy().limit(k). Above it, no
        driver-side merge: range-partition by priority (equal keys
        co-located, partitions ordered), freeze the partitioning in a
        cache (released with the wave), count per partition (tiny
        action), then keep whole partitions below the boundary and
        locally top-off inside the boundary partition. The only driver
        traffic is one count row per partition."""
        if k <= TOPK_RANGE_ABOVE_ROWS:
            return df.orderBy("priority").limit(k)
        P = self.spark.sparkContext.defaultParallelism
        rp = df.repartitionByRange(P, F.col("priority").asc()).persist()
        w.unpersist.append(rp)
        cnts = sorted(
            (r["pid"], r["count"]) for r in
            rp.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        )
        cum, boundary, take_in_boundary = 0, None, 0
        full_pids = []
        for pid, n in cnts:
            if cum + n <= k:
                full_pids.append(pid)
                cum += n
                if cum == k:
                    break
            else:
                boundary, take_in_boundary = pid, k - cum
                break
        parts = []
        if full_pids:
            parts.append(rp.filter(F.spark_partition_id().isin(full_pids)))
        if boundary is not None and take_in_boundary > 0:
            parts.append(
                rp.filter(F.spark_partition_id() == boundary)
                .orderBy("priority").limit(take_in_boundary))
        if not parts:
            return rp.limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------- documents
    def _check_images(self, w: _Wave, rows: DataFrame) -> DataFrame:
        """Image validation of the image_ids of the wave's fetch-ok
        ``rows``: the per-row PSNR/caption invariant (input_hint). Probes
        the big images table with the key set (the bytes column never
        crosses a shuffle) — bucket pruning, then a broadcast key join
        on small sets or an executor-side sketch filter on big ones —
        and runs the decode/PSNR UDF on the matched sliver. Returns the
        COMPACT (image_id, img_ok, psnr_db, caption_ok) rows, persisted
        and materialised; the wave releases the cache."""
        cfg, n = self.cfg, w.m.pending_count
        images_src = self.images
        if (self._images_bucketed
                and n < BUCKET_PRUNE_ROWS_PER_BUCKET * cfg.payload_buckets):
            from ..sources.payload import prune_by_buckets, wave_bucket_ids
            img_buckets = wave_bucket_ids(
                rows.where(F.col("image_id").isNotNull()),
                F.xxhash64("image_id"), cfg.payload_buckets)
            images_src = prune_by_buckets(images_src, img_buckets)
        if w.small:
            img_keys = rows.select("image_id").where(
                F.col("image_id").isNotNull()).distinct()
            # at most one decode task per core: the matched sliver is
            # small, and each images-scan split would otherwise be its
            # own Python task (a second round of worker start-up once
            # the splits outnumber the cores)
            img_matched = images_src.join(
                F.broadcast(img_keys), on="image_id", how="inner",
            ).coalesce(self.spark.sparkContext.defaultParallelism)
        else:
            img_sketch = merged_sketch(
                rows.select(F.xxhash64("image_id").alias("ih")), "ih",
                BloomFilter.sized_for(max(n, 1024),
                                      cfg.bloom_bits_per_key).n_bits,
            )
            img_matched = split_by_sketch(
                images_src.withColumn("ih", F.xxhash64("image_id")),
                img_sketch, "ih", broadcasts=w.broadcasts,
            ).filter(F.col("maybe_seen")).drop("maybe_seen", "ih")
        checked = with_image_validation(img_matched).withColumn(
            "caption_ok",
            F.col("caption") == F.concat(
                F.lit("synthetic caption for "), F.col("image_id")),
        ).select("image_id", "img_ok", "psnr_db", "caption_ok").persist()
        w.unpersist.append(checked)
        checked.count()
        return checked

    def _embed(self, rows: DataFrame) -> DataFrame:
        """The documents of the rows emitted this wave: id = sha2(url,512)
        (T5), truncation-before-embed (T4), dual pseudo-embeddings (S10);
        the rows already carry their image checks."""
        return (
            rows
            .withColumn("id", doc_id_col("url"))
            .withColumn("_vecs", self._embed_udf(
                F.substring("title", 1, 8000), F.substring("content", 1, 8000)))
            .withColumn("title_vector", F.col("_vecs.title_vector"))
            .withColumn("content_vector", F.col("_vecs.content_vector"))
            .select(
                "id", "url", "seq", "depth", "title", "content",
                "title_vector", "content_vector", "image_id",
                "img_ok", "psnr_db", "caption_ok",
            )
        )

    def _finish(self, m: Manifest) -> Manifest:
        """Nothing left to fetch: commit ``m`` as finished."""
        m.finished = True
        self.store.commit(m)
        return m

    def _commit_manifest(self, m: Manifest, new_files: dict[str, str],
                         **fields) -> Manifest:
        """Commit wave ``m.iter + 1``: append each table's new delta file
        with INCREMENTAL compaction (_compact_deltas, LSM-style, 2
        levels) — frontier_log is the per-wave hot reader (the seen
        projection), documents/metrics bound read fan-in AND the
        manifest's path-list length on long crawls — then write the
        manifest LAST. ``fields`` replace the rest of ``m``."""
        i = m.iter + 1
        deltas = {k: list(v) for k, v in m.deltas.items()}
        for table, path in new_files.items():
            deltas[table] = _compact_deltas(
                self.spark, self.store, table, deltas.get(table, []) + [path],
                i, self.cfg.log_compaction_files)
        m2 = replace(m, iter=i, deltas=deltas, **fields)
        self.store.commit(m2)
        return m2

    # ------------------------------------------------------------------ wave
    def _wave(self, m: Manifest) -> Manifest:
        """One frontier wave as named stages, scheduled by dependency:
        every Spark job is submitted to the wave's pool as soon as the
        plan it reads exists, not after all plans are built.

          schedule → fetch ─┬─ image checks (pool; off the fetch-ok rows)
                            └─ extract ─┬─ docs branch (pool; joins the
                                        │  image checks, writes documents)
                                        └─ discover_links → dedup → commit
                                           (pool: frontier_log ∥ pending'
                                           ∥ sketch merge; then manifest)

        While the docs branch runs, the driver thread builds the links,
        dedup and frontier_log plans (py4j plan building is a large part
        of a small wave's fixed cost). Dry runs check no images: they
        emit no documents. Metrics ride in the manifest commit. A raised
        job leaves the manifest and sketch index at wave i-1; the wave's
        caches and broadcasts are released once every job has ended."""
        if m.pages_fetched >= self.cfg.max_pages or m.pending_count == 0:
            return self._finish(m)
        w = _Wave(m, i=m.iter + 1, t0=time.monotonic(),
                  small=m.pending_count <= BROADCAST_WAVE_ROWS)
        phases: list[str] = []

        def stage(name, fn, *args):
            t = time.monotonic()
            out = fn(w, *args)
            phases.append(f"{name}={time.monotonic() - t:.2f}")
            return out

        try:
            pending = self.store.read_pending(self.spark, m)
            due, budget_due, budget_carry, capped = stage(
                "schedule", self._schedule, pending)
            fetch = stage("fetch", self._fetch, pending, due)
            with ThreadPoolExecutor(max_workers=5) as pool:
                images_f = None
                if self.validate_images and not self.dry_run:
                    # extracted = exactly the fetch-ok rows: same key set
                    images_f = pool.submit(
                        self._check_images, w, fetch.filter(F.col("fetch_ok")))
                extracted = stage("extract", self._extract, fetch)
                docs_f = pool.submit(self._emit_docs, w, extracted, images_f)
                children = stage(
                    "discover_links", self._discover_links, extracted)
                pending_next, seen_delta, sketch = stage(
                    "dedup", self._dedup, children, fetch,
                    budget_due, budget_carry, capped)
                m2 = stage("commit", self._commit, pool, fetch, docs_f,
                           pending_next, seen_delta, sketch)
        finally:
            w.release()
        if m2 is None:
            # nothing was due: politeness budgets can't starve forever
            # (budget ≥ 1/host), so the frontier is exhausted. Finish
            # WITHOUT referencing this wave's (empty) files — same orphan
            # state a crash would leave.
            return self._finish(m)
        _, _, due_n, _, ok_n, _, new_links_n, wall_ms = m2.metrics_rows[-1]
        self.console.write_debug_line(
            f"wave {w.i}: due={due_n} ok={ok_n} new_links={new_links_n}"
            f" pending'={m2.pending_count} wall_ms={wall_ms:.0f}")
        self.console.write_verbose_line(
            f"wave {w.i} phases: " + " ".join(phases))
        return m2

    def _schedule(self, w: _Wave, pending: DataFrame):
        """Pick the wave's due rows: headless dedup, P1 per-host
        politeness budget, A1 global maxPages cap, P2 salting. Returns
        (due, budget_due, budget_carry, capped): ``budget_carry`` is what
        politeness deferred; when ``capped``, the rows of ``budget_due``
        the cap cut off carry too (_dedup)."""
        cfg, pending_n = self.cfg, w.m.pending_count
        if cfg.mode == CrawlMode.HEADLESS:
            # DFS keeps duplicate URLs in pending (min-priority merge
            # semantics) — dedup to the first-discovered row per URL here
            cand = _first_per_url(pending)
        else:
            # BFS/sitemap invariant: pending is exact-deduped at append
            # time (children dedup + anti-joins) — no per-wave re-dedup
            cand = pending

        # P1 politeness (standard mode): per-host budget BEFORE salting.
        # Skipped when the budget floor provably exceeds the whole
        # pending set (same result, no single-hot-host Window task).
        if (cfg.politeness and cfg.mode == CrawlMode.STANDARD
                and self._min_host_budget < pending_n):
            tagged = apply_politeness(
                cand, self.robots, cfg.iter_window_ms).persist()
            w.unpersist.append(tagged)
            drop_cols = ("due", "host_rank", "host_budget", "crawl_delay_ms")
            budget_due = tagged.filter(F.col("due")).drop(*drop_cols)
            budget_carry = tagged.filter(~F.col("due")).drop(*drop_cols)
        else:
            budget_due, budget_carry = cand, cand.limit(0)

        # A1 global maxPages cap — deterministic top-K on priority. The
        # sort is SKIPPED when the budget cannot bind (remaining >= what
        # is even in the frontier) — no global sort in steady-state BFS.
        # For a LARGE binding cap, orderBy().limit(K) is a driver-side
        # K-row merge (TakeOrderedAndProject collects up to K rows from
        # EVERY partition) — _topk_by_priority switches to an exact
        # range-partitioned top-K there, which keeps that wave
        # core-scalable.
        remaining = cfg.max_pages - w.m.pages_fetched
        if cfg.mode == CrawlMode.HEADLESS:
            due, capped = budget_due.orderBy("priority").limit(1), True
        elif remaining < pending_n:
            due = self._topk_by_priority(budget_due, remaining, w)
            capped = True
        else:
            due, capped = budget_due, False

        # P2 salted repartition for the fetch stage (hot-host skew);
        # no separate persist — `fetch` (persisted in _fetch) is its only
        # consumer besides the tiny capped-overflow anti-join
        due = salted_repartition(due, cfg.salt_partitions)
        return due, budget_due, budget_carry, capped

    def _fetch(self, w: _Wave, pending: DataFrame, due: DataFrame) -> DataFrame:
        """J5 fetch = equi-join against the pages table, with the BIG side
        streamed, never shuffled: the wave (due) is the small side —
        bounded by #hosts × politeness budget — so it is BROADCAST and
        the payload store is only scanned. Shuffling the multi-TB pages/
        images tables once per wave is the anti-pattern this avoids
        (measured: broadcast-probe beats shuffle-join ~3x here, and the
        shuffle variant gets WORSE with more cores from spill pressure).
        Above BROADCAST_WAVE_ROWS rows the engine falls back to a
        sketch-filtered shuffle join (AQE skew-split applies). Returns
        the persisted fetch rows with ``fetch_ok``; dead links are
        null-status rows."""
        cfg, pending_n = self.cfg, w.m.pending_count
        # file-level payload pruning (sources/payload.py): restrict the
        # pages SCAN to the buckets the pending set occupies — a
        # partition-pruning predicate, so non-probed bucket directories
        # are never opened. The bucket ids come from pending's url_hash
        # (one single-column scan, ≤ payload_buckets values collected);
        # using pending (⊇ due) keeps the collect off the politeness/
        # cap pipeline — a superset of buckets is pruning-correct.
        pages_src = self.pages
        if (self._pages_bucketed and pending_n
                < BUCKET_PRUNE_ROWS_PER_BUCKET * cfg.payload_buckets):
            from ..sources.payload import prune_by_buckets, wave_bucket_ids
            wave_buckets = wave_bucket_ids(
                pending, F.col("url_hash"), cfg.payload_buckets)
            pages_src = prune_by_buckets(pages_src, wave_buckets)
        pages_cols = pages_src.select("url", "status", "html", "image_id")
        if w.small:
            matched = pages_cols.join(F.broadcast(due), on="url", how="inner")
            dead = due.join(
                F.broadcast(matched.select("url")), on="url", how="left_anti"
            ).select(
                due["*"],
                F.lit(None).cast("int").alias("status"),
                F.lit(None).cast("string").alias("html"),
                F.lit(None).cast("string").alias("image_id"),
            )
            fetch = matched.unionByName(dead, allowMissingColumns=False)
        else:
            # sketch-filtered fetch: probe the pages scan with a Bloom of
            # the wave's url hashes (no false negatives ⇒ no lost fetches;
            # FPs only add rows to the exact join below), then a
            # wave-sized shuffle LEFT join — dead links fall out as
            # null-status rows. No driver-side broadcast build.
            wave_sketch = merged_sketch(
                due.select("url_hash"), "url_hash",
                BloomFilter.sized_for(pending_n, cfg.bloom_bits_per_key).n_bits,
            )
            pages_probe = split_by_sketch(
                pages_cols.withColumn("url_hash", url_hash_col("url")),
                wave_sketch, "url_hash", broadcasts=w.broadcasts,
            ).filter(F.col("maybe_seen")).drop("maybe_seen", "url_hash")
            fetch = due.join(pages_probe, on="url", how="left")
        fetch = fetch.withColumn(
            "fetch_ok", (F.col("status") == 200) & F.col("html").isNotNull()
        )
        if pending_n > REPARTITION_ABOVE_ROWS:
            fetch = fetch.repartition(
                self.spark.sparkContext.defaultParallelism)
        # NO upfront stats action: the wave's counts (due/ok, per
        # partition) ride the frontier_log write — partition_id is a
        # lineage COLUMN, and a sub-second readback of the slim log file
        # replaces what used to be a full materialization job.
        fetch = fetch.persist()
        w.unpersist.append(fetch)
        return fetch

    def _extract(self, w: _Wave, fetch: DataFrame) -> DataFrame:
        """T1/T2 extraction of the fetched pages — ONE parse per page
        (UDF), selector scoping F5/F6, links canonical on the way out
        (J4). Returns the persisted extraction of the fetch-ok rows (the
        docs and pending writes both read it)."""
        cfg, pending_n = self.cfg, w.m.pending_count
        ok = fetch.filter(F.col("fetch_ok"))
        if pending_n < COALESCE_BELOW_ROWS:
            # narrow coalesce (no shuffle); gated on pending_n (known
            # from the manifest — due ≤ pending) so no count action is
            # needed before planning
            ok = ok.coalesce(max(1, pending_n // ROWS_PER_UDF_TASK + 1))
        if self.track_order:
            # visit-order seq without a global sort: range-partition the
            # wave by priority BEFORE extraction (sampling runs on the
            # already-materialized fetch cache, not through the UDFs) so
            # disjoint priority ranges land in ordered partitions; the
            # narrow extraction below preserves partitioning + order.
            npart = min(self.spark.sparkContext.defaultParallelism,
                        max(1, pending_n // ROWS_PER_UDF_TASK + 1))
            ok = ok.repartitionByRange(
                npart, F.col("priority").asc()
            ).sortWithinPartitions("priority")
        extracted = self.extractor(ok, "html", cfg.dom_selector)
        if self.track_order:
            extracted = extracted.withColumn("_pid", F.spark_partition_id())
        if not cfg.extract_text:
            # T3 raw-HTML mode: store <body> inner HTML, scripts kept
            from ..functions.html import raw_body_udf
            extracted = extracted.withColumn(
                "content", raw_body_udf(F.col("html")))
        # no explicit materialization: the docs branch's count collect
        # computes the cache once; the pending write reuses it
        extracted = extracted.persist()
        w.unpersist.append(extracted)
        return extracted

    def _emit_docs(self, w: _Wave, extracted: DataFrame,
                   images_f: Future | None) -> str:
        """The docs branch, run as ONE pool task: visit-order seq, F4
        empty-content skip, the image checks joined in (``images_f``
        yields the compact checks; None = not validated, the columns are
        NULL), embedding, then the documents write. Returns its path."""
        m = w.m
        # visit order (oracle contract): seq = emitted_so_far + rank(priority),
        # computed WITHOUT a global single-partition sort: the wave is
        # already range-partitioned by priority (cached, so partition
        # assignment is frozen) → global rank = sum of earlier partitions'
        # sizes + rank within the partition. One tiny extra action (the
        # per-partition counts off the cache); every window below is
        # partitioned, so no WindowExec single-partition warning. The
        # count collect also fills the `extracted` cache that the pending
        # write, submitted meanwhile, reads too. The offsets are a
        # literal map keyed by every _pid the counts saw, so the lookup
        # is total and costs no job of its own.
        if self.track_order:
            cnt_rows = extracted.groupBy("_pid").count().collect()
            offs, acc = [], 0
            for pid, n in sorted((r["_pid"], r["count"]) for r in cnt_rows):
                offs += [F.lit(int(pid)), F.lit(acc)]
                acc += n
            seq_off = F.create_map(*offs)[F.col("_pid")] if offs else F.lit(0)
            w_seq = Window.partitionBy("_pid").orderBy(F.col("priority").asc())
            extracted_seq = extracted.withColumn(
                "seq", (F.row_number().over(w_seq) + seq_off
                        + F.lit(m.docs_emitted)).cast("int"))
        else:
            extracted_seq = extracted.withColumn("seq", F.lit(None).cast("int"))
        emit = extracted_seq.filter(F.length("content") > 0)
        if images_f is None:
            emit = (emit.withColumn("img_ok", F.lit(None).cast("boolean"))
                        .withColumn("psnr_db", F.lit(None).cast("double"))
                        .withColumn("caption_ok", F.lit(None).cast("boolean")))
        else:
            checked = images_f.result()
            emit = emit.join(F.broadcast(checked) if w.small else checked,
                             on="image_id", how="left")
        docs_out = self._embed(emit)
        if self.dry_run:
            docs_out = docs_out.limit(0)
        return self.store.write_delta(docs_out, "documents", w.i)

    def _discover_links(self, w: _Wave, extracted: DataFrame) -> DataFrame:
        """Child frontier rows of the wave's pages: A2 depth gate
        (links followed only below max_depth), F5/F6 selector, F1 shape
        filter, the J4 canonical url/host the extraction pass already
        resolved, F2 same-host, then within-wave first-discovery
        dedup. No Python runs here."""
        cfg = self.cfg
        links = (
            extracted.filter(F.col("depth") < cfg.max_depth)
            .select(
                F.col("url").alias("parent_url"),
                F.col("root_host"),
                F.col("depth").alias("parent_depth"),
                F.col("path").alias("parent_path"),
                F.explode_outer("links").alias("lnk"),
            )
            .filter(F.col("lnk").isNotNull())
        )
        if cfg.dom_selector:
            links = links.filter(F.col("lnk.in_selector"))
        links = (
            links.filter(href_is_crawlable_col(F.col("lnk.href")))
            .withColumn("url", F.col("lnk.url"))
            .filter(F.col("url").isNotNull())  # F7 malformed guard
            .withColumn("host", F.col("lnk.host"))
        )
        if cfg.same_host_only:
            links = links.filter(F.col("host") == F.col("root_host"))
        children = (
            links.withColumn("depth", F.col("parent_depth") + 1)
            .withColumn("link_pos", F.col("lnk.link_pos"))
            .withColumn(
                "path",
                F.concat(F.col("parent_path"), F.lit("."),
                         F.format_string("%05d", F.col("link_pos"))),
            )
            .withColumn("priority", _priority_expr(cfg.mode))
            .withColumn("url_hash", url_hash_col("url"))
            .withColumn("iter_added", F.lit(w.i))
            .withColumn("attempts", F.lit(0))
            .select(*[f.name for f in PENDING_SCHEMA.fields])
        )
        return _first_per_url(children)

    def _dedup(self, w: _Wave, children: DataFrame, fetch: DataFrame,
               budget_due: DataFrame, budget_carry: DataFrame, capped: bool):
        """pending' = carried rows ∪ children that are new against
        (seen ∪ this wave ∪ carried), exact and sketch-assisted past the
        gate, plus P4 retries. Returns (pending_next, seen_delta,
        sketch); ``sketch`` is the probe handle, None before the gate."""
        spark, cfg, m, i = self.spark, self.cfg, w.m, w.i
        if capped:
            # fetch (cached) carries exactly the due url_hashes
            overflow = budget_due.join(
                fetch.select("url_hash"), "url_hash", "left_anti")
            carried = budget_carry.unionByName(overflow)
        else:
            carried = budget_carry

        # seen-set semantics (SURVEY.md §7.3): STANDARD/SITEMAP dedupe at
        # schedule time (all attempted URLs); HEADLESS only on success —
        # failed URLs stay retriable (HeadlessBrowserCrawler.cs:161)
        attempted = fetch
        if cfg.seen_on_effective == SeenOn.SUCCESS:
            attempted = fetch.filter(F.col("fetch_ok"))
        seen_delta = attempted.select("url_hash", "url").withColumn(
            "iter", F.lit(i))

        seen_prev = seen_from_log(
            self.store.read_table(spark, m, "frontier_log"),
            cfg.seen_on_effective,
        )
        # the sketch pays off once the seen table is big enough that the
        # exact join's shuffle dominates; below the gate, plain left_anti
        # wins and no sketch work runs at all
        sketch = None
        if m.pages_fetched >= cfg.seen_sketch_min_pages:
            sketch = self._open_sketch(m, seen_prev)
        new_pending = anti_join_seen(
            children, seen_prev, sketch, broadcasts=w.broadcasts)
        new_pending = new_pending.join(
            seen_delta.select("url_hash"), "url_hash", "left_anti"
        )
        if cfg.mode != CrawlMode.HEADLESS:
            # BFS/sitemap: first discovery always has the minimal priority
            # (child depth ≥ pending depth, path monotone within a depth) —
            # drop duplicates of carried rows outright. (HEADLESS keeps
            # them: in DFS preorder a later-discovered path can rank
            # BEFORE the pending row's; the wave-start dedup keeps the min.)
            new_pending = new_pending.join(
                carried.select("url_hash"), "url_hash", "left_anti"
            )
        pending_next = carried.unionByName(new_pending)

        # P4 retry policy: the reference DROPS a page on failure/backoff
        # (AzureSearchIndexer.cs:214-218, no retry) — that is
        # retry_max_attempts=0, the faithful default. With retries on,
        # failed fetches re-enter pending (same priority = next-wave
        # backoff) until the attempt budget is spent.
        if cfg.retry_max_attempts > 0:
            retries = (
                fetch.filter(~F.col("fetch_ok"))
                .filter(F.col("attempts") < cfg.retry_max_attempts)
                .withColumn("attempts", F.col("attempts") + 1)
                .withColumn("iter_added", F.lit(i))
                .select(*[f.name for f in PENDING_SCHEMA.fields])
            )
            pending_next = pending_next.unionByName(retries)
        return pending_next, seen_delta, sketch

    def _commit(self, w: _Wave, pool: ThreadPoolExecutor, fetch: DataFrame,
                docs_f: Future, pending_next: DataFrame,
                seen_delta: DataFrame, sketch) -> Manifest | None:
        """Submit the wave's remaining writes beside the running docs
        branch (``docs_f``), wait for all of them — data files first —
        then commit the manifest. Returns None when nothing was due (the
        caller finishes the crawl without referencing this wave's
        files)."""
        cfg, m, i = self.cfg, w.m, w.i
        frontier_log = (
            fetch.select(
                "url", "url_hash", "host", "depth", "priority", "parent_url",
                "link_pos", "fetch_ok",
            ).withColumn("iter", F.lit(i)).withColumn(
                "state", F.when(F.col("fetch_ok"), "fetched").otherwise("failed")
            ).drop("fetch_ok")
            # per-partition lineage column (north_rule): which task
            # produced the row — also the source of the wave's
            # per-partition metrics (observed below, no stats job)
            .withColumn("partition_id", F.spark_partition_id())
        )
        # the per-partition fetched/failed counts ride the log write: one
        # histogram of partition_id per state. A histogram is exact while
        # its bin count covers the distinct values, and every partition
        # that emits a row holds one of the wave's ≤ pending_count rows;
        # only the non-empty bins reach the driver.
        nb = F.lit(max(2, m.pending_count))
        log_obs = Observation(f"log_{i}")
        frontier_log = frontier_log.observe(
            log_obs,
            F.histogram_numeric(F.when(F.col("state") == "fetched",
                                       F.col("partition_id")), nb)
             .alias("fetched"),
            F.histogram_numeric(F.when(F.col("state") != "fetched",
                                       F.col("partition_id")), nb)
             .alias("failed"),
        )
        obs = Observation(f"pending_{i}")
        pending_obs = pending_next.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("iter_added") == i).cast("long")).alias("new"),
        )

        def pending_job():
            # pending counts ride the write job via observe()
            path = self.store.write_pending(pending_obs, i)
            return path, int(obs.get["n"]), int(obs.get["new"] or 0)

        # the wave's other independent Spark jobs, beside the docs branch
        # and the image checks (guide §2.6 — one job's tasks fill the
        # cores another leaves idle):
        #   - frontier_log reads the `fetch` cache;
        #   - pending' reads the `extracted` cache, which the docs
        #     branch's count collect fills when track_order is on
        #     (otherwise the first reader fills each block and the other
        #     waits on Spark's block lock); it probes the PREVIOUS sketch
        #     snapshot through a copy of the index;
        #   - the sketch merge reads `fetch`.
        # A failed job raises out of .result(). The manifest and the
        # engine's sketch index (adopted after the commit) then stay at
        # wave i-1, and a re-run of the wave overwrites the orphan files.
        # The empty-final-wave check comes after the jobs for the same
        # reason: a would-be-final wave leaves only orphans.
        log_f = pool.submit(self.store.write_delta, frontier_log,
                            "frontier_log", i)
        pend_f = pool.submit(pending_job)
        sk_f = (pool.submit(self._merge_seen_delta, seen_delta, i)
                if sketch is not None else None)
        log_path = log_f.result()
        doc_path = docs_f.result()
        pending_path, pending_next_n, new_links_n = pend_f.result()
        # a wave before the gate references no snapshot: one left from
        # an earlier run would miss this wave's delta
        sketch_index, sketch_path = (
            sk_f.result() if sk_f is not None else (self._sketch_index, None))
        hists = log_obs.get
        fetched, failed = ({int(b["x"]): int(b["y"]) for b in hists[k] or []}
                           for k in ("fetched", "failed"))
        ok_n = sum(fetched.values())
        due_n = ok_n + sum(failed.values())
        if due_n == 0:
            return None

        # metrics: per-partition fetch lineage rows + a global (-1) row,
        # spilled to the parquet metrics table (tiny driver-side pyarrow
        # write, no Spark job); the manifest keeps only the CURRENT
        # wave's rows for inspection/console
        wall_ms = (time.monotonic() - w.t0) * 1000.0
        met_rows = [
            [i, pid, None, None, fetched.get(pid, 0), failed.get(pid, 0),
             None, None]
            for pid in sorted(fetched.keys() | failed.keys())
        ] + [[i, -1, due_n, None, ok_n, due_n - ok_n, new_links_n, wall_ms]]
        met_path = self.store.write_metrics_rows(met_rows, i)
        fetched_count = due_n if cfg.seen_on_effective == SeenOn.SCHEDULE else ok_n
        m2 = self._commit_manifest(
            m,
            {"documents": doc_path, "frontier_log": log_path,
             "metrics": met_path},
            pending_path=pending_path,
            pages_fetched=m.pages_fetched + fetched_count,
            docs_emitted=m.docs_emitted + ok_n,
            pending_count=pending_next_n,
            metrics_rows=met_rows,
            seen_sketch_path=sketch_path,
        )
        self._sketch_index = sketch_index
        return m2


def _sitemap_seed_rows(root_url: str, lookup: dict[str, str],
                       same_host_only: bool) -> list[tuple]:
    """Discovery → seed rows for ONE root, in document order, as
    _seed_frame takes them (no url_hash). ``lookup`` keys are lowercased
    sitemap URLs."""
    from ..sources.sitemap import discover_sitemap_urls

    urls = discover_sitemap_urls(root_url, lambda u: lookup.get(u.lower()))
    root_host = host_of(canonicalize(None, root_url))
    rows: list[tuple] = []
    seen_urls: set[str] = set()
    for pos, u in enumerate(urls):
        if u in seen_urls:
            continue
        if same_host_only and host_of(u) != root_host:
            continue  # F2 same-host filter (SitemapCrawler.cs:159-163)
        seen_urls.add(u)
        rows.append((u, host_of(u), root_host, 0,
                     f"{pos:09d}", f"{pos:09d}", None, pos, 0, 0))
    return rows


def run_sitemap_crawl(
    spark: SparkSession,
    pages: DataFrame,
    cfg: CrawlConfig,
    checkpoint_dir: str,
    sitemap_bodies: dict[str, str],
    images: DataFrame | None = None,
    robots: DataFrame | None = None,
    **engine_kw,
) -> CrawlResult:
    """Sitemap mode (O3): discovery over the root's sitemap documents
    (``sitemap_bodies``: sitemap URL → body) on the driver — a handful
    of small XMLs, and the reference is sequential here too
    (SitemapCrawler.cs:204-274) — then the SAME wave engine fetches the
    discovered URLs in document order. No link following (the reference
    sitemap crawler never extracts links), no politeness delay.
    """
    lookup = {k.lower(): v for k, v in sitemap_bodies.items()}
    seed = _seed_frame(
        spark, _sitemap_seed_rows(cfg.root_url, lookup, cfg.same_host_only))
    sm_cfg = CrawlConfig(
        root_url=cfg.root_url, mode=CrawlMode.SITEMAP, max_pages=cfg.max_pages,
        max_depth=0, dom_selector=cfg.dom_selector,
        same_host_only=cfg.same_host_only, politeness=False,
        seen_on=SeenOn.SUCCESS, embedding_dim=cfg.embedding_dim,
    )
    engine = CrawlEngine(
        spark, pages, sm_cfg, checkpoint_dir, images=images, robots=robots,
        seed_pending=seed, **engine_kw,
    )
    return engine.run()


def run_sites(
    spark: SparkSession,
    pages: DataFrame,
    sites_json: str,
    checkpoint_root: str,
    mode: CrawlMode = CrawlMode.STANDARD,
    max_pages: int = 100,
    images: DataFrame | None = None,
    robots: DataFrame | None = None,
    **engine_kw,
) -> list[CrawlResult]:
    """S2 sites-file source (CrawlerMain.cs:246-287): one crawl per site
    entry, sequentially, each with its own maxDepth/domSelector and its
    own checkpoint dir; invalid URIs skipped with a warning (F7)."""
    from ..config import parse_sites_json

    results: list[CrawlResult] = []
    for idx, site in enumerate(parse_sites_json(sites_json)):
        if canonicalize(None, site.uri) is None:
            continue  # CrawlerMain.cs:271-275 — skip invalid, keep going
        cfg = CrawlConfig(
            root_url=site.uri, mode=mode, max_pages=max_pages,
            max_depth=site.max_depth, dom_selector=site.dom_selector,
        )
        engine = CrawlEngine(
            spark, pages, cfg, f"{checkpoint_root}/site_{idx:03d}",
            images=images, robots=robots, **engine_kw,
        )
        results.append(engine.run())
    return results
