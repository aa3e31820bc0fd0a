"""Per-host politeness scheduler + hot-host skew handling (P1/P2).

The reference enforces ≥100 ms between same-domain requests inside Abot's
thread pool (AbotCrawler.cs:166-167). Re-expressed as a per-iteration
TOKEN BUDGET: an iteration represents ``iter_window_ms`` of wall-clock, so
a host with crawl_delay_ms D may fetch at most floor(window/D) URLs that
iteration; the rest CARRY OVER in priority order.

Scale notes (SURVEY.md §7.3 "politeness carry-over correctness"):
- the per-host ranking Window runs BEFORE any salting, so the budget is
  global per host even when one mega-host spans many partitions;
- the subsequent salted repartition spreads a hot host across
  ``salt_partitions`` tasks for the fetch stage — politeness already
  enforced, so salting cannot violate crawl-delay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CRAWL_DELAY_MS


def apply_politeness(
    candidates: DataFrame,
    robots: DataFrame | None,
    iter_window_ms: int,
    priority_col: str = "priority",
) -> DataFrame:
    """Tag rows ``due`` (within host budget) vs carry-over.

    robots(host, crawl_delay_ms, ...) is broadcast (small dim —
    SURVEY.md §2.1 S6); hosts absent from robots get the reference
    default 100 ms. Returns candidates + (host_rank, host_budget, due).
    """
    if robots is not None:
        cand = candidates.join(
            F.broadcast(robots.select("host", "crawl_delay_ms")), on="host", how="left"
        )
    else:
        cand = candidates.withColumn("crawl_delay_ms", F.lit(None).cast("long"))
    cand = cand.withColumn(
        "crawl_delay_ms",
        F.coalesce(F.col("crawl_delay_ms"), F.lit(DEFAULT_CRAWL_DELAY_MS)),
    ).withColumn(
        "host_budget",
        F.greatest(F.lit(1), F.floor(F.lit(iter_window_ms) / F.col("crawl_delay_ms"))),
    )
    w = Window.partitionBy("host").orderBy(F.col(priority_col).asc())
    return cand.withColumn("host_rank", F.row_number().over(w)).withColumn(
        "due", F.col("host_rank") <= F.col("host_budget")
    )


def apply_robots_disallow(df: DataFrame, robots: DataFrame | None,
                          url_col: str = "url") -> DataFrame:
    """Drop rows whose URL path starts with any robots.txt Disallow
    prefix for its host. Opt-in: the reference does NOT enforce
    disallow rules (Abot's IsRespectRobotsDotTextEnabled defaults off
    and the sitemap/headless crawlers never read them) — this is the
    production-correct extension over the fixture robots table
    (FIXTURES.md §3)."""
    if robots is None:
        return df
    dis = robots.select("host", "disallow")
    joined = df.join(F.broadcast(dis), on="host", how="left")
    path = F.parse_url(F.col(url_col), F.lit("PATH"))
    blocked = F.exists(
        F.coalesce(F.col("disallow"), F.array()),
        lambda d: path.startswith(d),
    )
    return joined.filter(~blocked).drop("disallow")


def salted_repartition(df: DataFrame, salt_partitions: int, n_partitions: int | None = None) -> DataFrame:
    """P2: spread a hot host over ``salt_partitions`` tasks while keeping
    host locality for cold hosts: partition by (host, pmod(url_hash, S))."""
    salt = F.pmod(F.col("url_hash"), F.lit(salt_partitions))
    if n_partitions:
        return df.repartition(n_partitions, F.col("host"), salt)
    return df.repartition(F.col("host"), salt)
