"""CLI — the spark-submit entry point (S1, CrawlerMain.cs:68-176).

Mirrors the reference's options where they apply to the graft (no live
Azure services — BASELINE.json replaces them with deterministic synthetic
equivalents; the payload store is a parquet/Iceberg table):

    spark-submit --py-files engine.zip -m azuresearchcrawlervector_spark.cli \\
        --rootUri http://host0.example.com/ \\
        --pagesParquet /data/pages.parquet --imagesParquet /data/images.parquet \\
        --crawlMode standard --maxPages 100000 --maxDepth 10 \\
        --checkpointDir /data/ckpt --resume

Defaults match the reference: maxPages=100, maxDepth=10
(CrawlerMain.cs:17-18). Exit codes: 0 ok, 2 bad arguments (the reference's
validation failures, CrawlerMain.cs:211-223).
"""

from __future__ import annotations

import argparse

from .config import (
    DEFAULT_MAX_DEPTH, DEFAULT_MAX_PAGES, CrawlConfig, CrawlMode,
)
from .core.urls import canonicalize


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pyspark-frontier")
    p.add_argument("--rootUri", help="seed URL (CrawlerMain.cs:288-298)")
    p.add_argument("--sitesFile", help="JSON sites file (CrawlerMain.cs:246-287)")
    p.add_argument("--maxPages", type=int, default=DEFAULT_MAX_PAGES)
    p.add_argument("--maxDepth", type=int, default=DEFAULT_MAX_DEPTH)
    p.add_argument("--crawlMode", choices=[m.value for m in CrawlMode],
                   default=CrawlMode.STANDARD.value)
    p.add_argument("--domSelector", default=None)
    p.add_argument("--extractText", action=argparse.BooleanOptionalAction,
                   default=True, help="False = raw body HTML mode (T3)")
    p.add_argument("--dryRun", action="store_true",
                   help="crawl without writing documents (AzureSearchIndexer.cs:151-155)")
    p.add_argument("--embeddingDimensions", type=int, default=128,
                   help="--azureOpenAIEmbeddingDimensions analog")
    p.add_argument("--pagesParquet", required=True)
    p.add_argument("--imagesParquet", default=None)
    p.add_argument("--robotsParquet", default=None)
    p.add_argument("--checkpointDir", required=True)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--iterWindowMs", type=int, default=1000)
    p.add_argument("--saltPartitions", type=int, default=8)
    p.add_argument("--retryMaxAttempts", type=int, default=0)
    p.add_argument("--noPoliteness", action="store_true")
    p.add_argument("--verbose", action="store_true",
                   help="unlock VERBOSE/DEBUG console lines (S11 verbose "
                        "gate, SystemConsoleAdapter.cs:28-38)")
    return p


def main(argv: list[str] | None = None, console=None) -> int:
    from .core.console import Console

    args = build_parser().parse_args(argv)
    console = console or Console(verbose=args.verbose)
    console.set_verbose(args.verbose)
    if not args.rootUri and not args.sitesFile:
        console.write_error("error: one of --rootUri / --sitesFile is required")
        return 2
    if args.rootUri and canonicalize(None, args.rootUri) is None:
        console.write_error(f"error: invalid rootUri {args.rootUri!r}")
        return 2
    if args.maxPages <= 0 or args.maxDepth < 0:
        console.write_error("error: maxPages must be > 0 and maxDepth >= 0")
        return 2
    if args.crawlMode == CrawlMode.SITEMAP.value:
        # the engine alone would run a link-following crawl; sitemap
        # mode needs the sitemap documents (plans/crawl.run_sitemap_crawl)
        console.write_error(
            "error: --crawlMode sitemap needs sitemap documents, which the "
            "CLI does not take")
        return 2

    from .plans.crawl import CrawlEngine, run_sites
    from .session import get_spark

    spark = get_spark("pyspark-frontier-cli")
    pages = spark.read.parquet(args.pagesParquet)
    images = spark.read.parquet(args.imagesParquet) if args.imagesParquet else None
    robots = spark.read.parquet(args.robotsParquet) if args.robotsParquet else None

    if args.sitesFile:
        with open(args.sitesFile) as fh:
            results = run_sites(
                spark, pages, fh.read(), args.checkpointDir,
                mode=CrawlMode(args.crawlMode), max_pages=args.maxPages,
                images=images, robots=robots,
            )
        fetched = sum(r.manifest.pages_fetched for r in results)
    else:
        cfg = CrawlConfig(
            root_url=args.rootUri,
            mode=CrawlMode(args.crawlMode),
            max_pages=args.maxPages,
            max_depth=args.maxDepth,
            dom_selector=args.domSelector,
            politeness=not args.noPoliteness,
            iter_window_ms=args.iterWindowMs,
            salt_partitions=args.saltPartitions,
            embedding_dim=args.embeddingDimensions,
            retry_max_attempts=args.retryMaxAttempts,
            extract_text=args.extractText,
        )
        engine = CrawlEngine(
            spark, pages, cfg, args.checkpointDir, images=images, robots=robots,
            dry_run=args.dryRun, console=console,
        )
        res = engine.run(resume=args.resume)
        fetched = res.manifest.pages_fetched
    console.write_info_line(f"crawl finished: {fetched} pages fetched")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
