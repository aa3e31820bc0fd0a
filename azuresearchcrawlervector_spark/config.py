"""Crawl configuration — the Spark-side analog of the reference CLI
(``CrawlerMain.cs:68-176``) and ``SiteConfig`` (``Models/SiteConfig.cs:5-7``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from enum import Enum


class CrawlMode(str, Enum):
    """Traversal policies (Models/CrawlMode.cs:3-8) — ONE engine, three
    priority functions (SURVEY.md §2.5 O1-O3), not three engines."""

    STANDARD = "standard"  # FIFO-BFS schedule order (Abot, O1)
    SITEMAP = "sitemap"    # sitemap document order (O3)
    HEADLESS = "headless"  # sequential DFS preorder (O2)


class SeenOn(str, Enum):
    """When a URL enters the seen set (SURVEY.md §7.3): Abot dedupes at
    SCHEDULE time; the headless crawler only after a SUCCESSFUL fetch
    (HeadlessBrowserCrawler.cs:161) so failed URLs stay retriable."""

    SCHEDULE = "schedule"
    SUCCESS = "success"


DEFAULT_MAX_PAGES = 100   # CrawlerMain.cs:17
DEFAULT_MAX_DEPTH = 10    # CrawlerMain.cs:18
DEFAULT_CRAWL_DELAY_MS = 100  # AbotCrawler.cs:167
SITEMAP_RECURSION_CAP = 10    # SitemapCrawler.cs:59-63


@dataclass(frozen=True)
class CrawlConfig:
    root_url: str
    mode: CrawlMode = CrawlMode.STANDARD
    max_pages: int = DEFAULT_MAX_PAGES
    max_depth: int = DEFAULT_MAX_DEPTH
    dom_selector: str | None = None
    same_host_only: bool = True
    # politeness: wall-clock an iteration represents; per-host budget =
    # iter_window_ms / crawl_delay_ms (operator P1)
    iter_window_ms: int = 1000
    politeness: bool = True
    seen_on: SeenOn = SeenOn.SCHEDULE
    salt_partitions: int = 8  # P2 hot-host salting factor
    embedding_dim: int = 128
    bloom_bits_per_key: int = 16  # ~0.04% FP before exact confirm join
    # P4: reference drops failed pages without retry
    # (AzureSearchIndexer.cs:214-218) — 0 keeps that faithful behavior
    retry_max_attempts: int = 0
    # T3 raw-HTML mode: False stores <body> inner HTML, scripts kept
    # (TextExtractor.cs:45-48); True = cleaned-text extraction
    extract_text: bool = True
    # J1-J3 seen sketch gate: the first wave that starts with at least
    # this many pages fetched builds the sketch once from the frontier
    # log; every later wave probes it and merges its own delta in
    # (O(delta) per wave, snapshotted for resume). Below the gate the
    # plain exact anti-join is already cheaper than any sketch, and no
    # sketch work runs at all.
    seen_sketch_min_pages: int = 50_000
    # seen-sketch shard size. The sketch is sized for maxPages and cut
    # into S = sized_bits // min(sized_bits, seen_sketch_shard_bits)
    # power-of-two shards, each a snapshot file (dirty-only writes)
    # probed shard-aligned from the checkpoint store. A sketch of up to
    # 16 MB is one shard; 10^10 keys × 16 bits make 2048.
    seen_sketch_shard_bits: int = 1 << 27
    # P5 crawl timeout: None = reference formula maxPages x 10 s
    # (AbotCrawler.cs:165) with a 600 s floor so tiny-budget crawls on a
    # loaded machine aren't killed mid-wave
    crawl_timeout_s: int | None = None
    # payload-table bucket layout (sources/payload.py): >0 means the
    # pages/images tables carry a `bucket` partition column equal to
    # pmod(xxhash64(url|image_id), payload_buckets); each wave's fetch
    # then prunes the payload SCAN at the file level to the buckets its
    # pending set occupies (per-wave payload I/O ∝ wave coverage, not
    # table size). 0 = flat layout, full scan per wave.
    payload_buckets: int = 0
    # compact the frontier_log delta files once this many accumulate —
    # the seen projection re-reads them every wave, so unbounded delta
    # fan-in would make wave cost grow with crawl age
    log_compaction_files: int = 12

    @property
    def seen_on_effective(self) -> SeenOn:
        # headless semantics: seen only on successful fetch
        if self.mode == CrawlMode.HEADLESS:
            return SeenOn.SUCCESS
        return self.seen_on


@dataclass(frozen=True)
class SiteConfig:
    """One entry of the --sitesFile JSON (Models/SiteConfig.cs:5-7);
    parsed case-insensitively like the reference (CrawlerMain.cs:257-260)."""

    uri: str
    max_depth: int = DEFAULT_MAX_DEPTH
    dom_selector: str | None = None


def parse_sites_json(text: str) -> list[SiteConfig]:
    """JSON sites file → list[SiteConfig]; invalid-URI rows are skipped by
    the caller (CrawlerMain.cs:271-275), property names case-insensitive."""
    raw = json.loads(text)
    out: list[SiteConfig] = []
    for row in raw:
        low = {k.lower(): v for k, v in row.items()}
        if "uri" not in low:
            continue
        out.append(
            SiteConfig(
                uri=low["uri"],
                max_depth=int(low.get("maxdepth", DEFAULT_MAX_DEPTH)),
                dom_selector=low.get("domselector"),
            )
        )
    return out
