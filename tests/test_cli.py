"""CLI (S1), dry-run, raw-HTML mode (T3), pluggable extractor (U1)."""

import pytest
from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.cli import build_parser, main
from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
from azuresearchcrawlervector_spark.sources.fixtures import test_website as website1_graph
from azuresearchcrawlervector_spark.sources.synthetic import pages_df


def test_parser_defaults_match_reference():
    args = build_parser().parse_args(
        ["--rootUri", "http://x.com", "--pagesParquet", "p", "--checkpointDir", "c"])
    assert args.maxPages == 100    # CrawlerMain.cs:17
    assert args.maxDepth == 10     # CrawlerMain.cs:18
    assert args.crawlMode == "standard"
    assert args.extractText is True


def test_cli_validation_exit_codes(tmp_path):
    # missing seed source
    assert main(["--pagesParquet", "p", "--checkpointDir", "c"]) == 2
    # invalid rootUri (CrawlerMain.cs:211-223 analog)
    assert main(["--rootUri", "not a uri", "--pagesParquet", "p",
                 "--checkpointDir", "c"]) == 2
    assert main(["--rootUri", "http://x.com", "--maxPages", "0",
                 "--pagesParquet", "p", "--checkpointDir", "c"]) == 2


def test_cli_end_to_end(spark, tmp_path, capsys):
    g = website1_graph()
    pages_path = str(tmp_path / "pages.parquet")
    pages_df(spark, g).write.parquet(pages_path)
    rc = main([
        "--rootUri", g.root, "--pagesParquet", pages_path,
        "--checkpointDir", str(tmp_path / "ckpt"), "--maxPages", "5",
        "--noPoliteness",
    ])
    assert rc == 0
    assert "5 pages fetched" in capsys.readouterr().out


def test_dry_run_emits_no_documents(spark, tmp_ckpt):
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, max_pages=5)
    res = CrawlEngine(spark, pages_df(spark, g), cfg, tmp_ckpt,
                      validate_images=False, dry_run=True).run()
    assert res.documents(spark).count() == 0
    assert res.manifest.pages_fetched == 5  # crawl itself still ran
    assert res.seen(spark).count() == 5


def test_raw_html_mode(spark, tmp_ckpt):
    # T3: extract_text=False stores body inner HTML with scripts kept
    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, max_pages=1, extract_text=False)
    res = CrawlEngine(spark, pages_df(spark, g), cfg, tmp_ckpt,
                      validate_images=False).run()
    row = res.documents(spark).collect()[0]
    assert "<script>" in row["content"]
    assert "<h1>" in row["content"]
    assert row["title"] == "Home & Welcome"  # title still extracted


def test_pluggable_extractor(spark, tmp_ckpt):
    # U1: swap the extraction function like subclassing TextExtractor
    from azuresearchcrawlervector_spark.functions.html import with_extraction

    def shouting_extractor(df, html_col="html", selector=None):
        out = with_extraction(df, html_col, selector)
        return out.withColumn("title", F.upper(F.col("title")))

    g = website1_graph()
    cfg = CrawlConfig(root_url=g.root, max_pages=1)
    res = CrawlEngine(spark, pages_df(spark, g), cfg, tmp_ckpt,
                      validate_images=False, extractor=shouting_extractor).run()
    assert res.documents(spark).collect()[0]["title"] == "HOME & WELCOME"


# ------------------------------------------------------------- S11 console
def test_console_levels_and_verbose_gate(capsys):
    from azuresearchcrawlervector_spark.core.console import Console, LogLevel

    c = Console(verbose=False)
    c.write_info_line("info")
    c.write_warning_line("warn")
    c.write_debug_line("dbg")
    c.write_verbose_line("vrb")
    c.write_error("boom")
    out, err = capsys.readouterr()
    assert out == "info\nwarn\n"          # debug/verbose gated off
    assert err == "boom\n"                # errors → stderr
    c.set_verbose(True)
    c.write_debug_line("dbg")
    c.write_verbose_line("vrb")
    out, _ = capsys.readouterr()
    # SystemConsoleAdapter.cs:28-38 prefixes
    assert out == "DEBUG: dbg\nVERBOSE: vrb\n"
    assert LogLevel.VERBOSE < LogLevel.DEBUG < LogLevel.INFORMATION \
        < LogLevel.WARNING < LogLevel.ERROR


def test_cli_errors_via_console():
    from azuresearchcrawlervector_spark.cli import main
    from azuresearchcrawlervector_spark.core.console import (
        CapturingConsole, LogLevel,
    )

    con = CapturingConsole()
    rc = main(["--rootUri", "not a uri", "--pagesParquet", "x",
               "--checkpointDir", "y"], console=con)
    assert rc == 2
    assert con.lines and con.lines[0][0] == LogLevel.ERROR
    assert "invalid rootUri" in con.lines[0][1]


def test_cli_sitemap_mode_exits_before_spark(monkeypatch, tmp_path):
    """The CLI takes no sitemap documents, and without them the engine
    would run a link-following crawl in SITEMAP mode: sitemap mode, with
    --rootUri or --sitesFile, exits 2 before a Spark session starts."""
    from azuresearchcrawlervector_spark import session
    from azuresearchcrawlervector_spark.core.console import (
        CapturingConsole, LogLevel,
    )

    def no_spark(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    sites = tmp_path / "sites.json"
    sites.write_text('[{"uri": "http://x.com"}]')
    for seed in (["--rootUri", "http://x.com"], ["--sitesFile", str(sites)]):
        con = CapturingConsole()
        rc = main([*seed, "--crawlMode", "sitemap", "--pagesParquet", "p",
                   "--checkpointDir", str(tmp_path / "ckpt")], console=con)
        assert rc == 2
        assert con.lines[0][0] == LogLevel.ERROR
        assert "sitemap" in con.lines[0][1]
