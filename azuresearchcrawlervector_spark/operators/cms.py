"""Count-Min sketch: mergeable approximate counting + heavy hitters.

The counting complement to operators/hll.py's distinct sketch: at
10^10 rows, exact per-item counts of a high-cardinality column (tokens,
URLs, hosts) shuffle one row per DISTINCT item; a Count-Min sketch
(Cormode & Muthukrishnan 2005) shuffles at most ``depth × width``
counter rows, merges by plain addition (sum is associative — partial
aggregation map-side, sketches from different days/tables add up), and
answers point queries with one-sided error: est(x) ≥ true(x), with
est − true ≤ N·e/width at probability 1 − e^−depth.

Determinism contract: row j's hash is the md5-60 of ``"j:" || value``
reduced mod width — every counter and every estimate is EXACT integer
arithmetic, so the DuckDB oracle hash-matches the APPROXIMATE sketch
(same device as the HLL twin).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _bucket_expr(value_col: str, j: int, width: int) -> str:
    return (f"CAST(conv(substring(md5(concat('{j}:',"
            f" CAST({value_col} AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            f" % {width}L")


def cms_sketch(df: DataFrame, value_col: str,
               depth: int = 4, width: int = 1024) -> DataFrame:
    """The sketch: (j, bucket, c) — at most depth×width rows however
    large the input. ONE combinable groupBy after a depth-way explode;
    merge sketches from separate scans by union + re-aggregation
    (cms_merge)."""
    rows = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 F.expr(_bucket_expr(value_col, j, width)).alias("bucket"))
        for j in range(depth)
    ])).alias("r")
    return (df.select(rows)
            .groupBy(F.col("r.j").alias("j"),
                     F.col("r.bucket").alias("bucket"))
            .agg(F.count("*").alias("c")))


def cms_merge(sketches: DataFrame) -> DataFrame:
    """Merge unioned sketch tables: counters add."""
    return sketches.groupBy("j", "bucket").agg(F.sum("c").alias("c"))


def cms_estimate(sketch: DataFrame, items: DataFrame, value_col: str,
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """(value, est) for every row of ``items``: est = min over the
    depth rows of that item's counter — the classic one-sided
    estimate. Join is equi on (j, bucket); ``items`` is typically a
    small candidate set, so the join broadcasts."""
    probes = items.select(
        F.col(value_col).alias("value"),
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     F.expr(_bucket_expr(value_col, j, width))
                      .alias("bucket"))
            for j in range(depth)
        ])).alias("r"),
    ).select("value", F.col("r.j").alias("j"),
             F.col("r.bucket").alias("bucket"))
    # LEFT join: an item whose (j, bucket) counter was never touched
    # reads 0 — a true CMS array cell — instead of being dropped (or
    # min'd over only its collided rows) by an inner join
    return (probes.join(sketch, ["j", "bucket"], "left")
            .groupBy("value")
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est")))


def cms_heavy_hitters(df: DataFrame, value_col: str, threshold: int,
                      depth: int = 4, width: int = 1024) -> DataFrame:
    """(value, est) for every DISTINCT item whose CM estimate reaches
    ``threshold``. One-sided guarantee: no true heavy hitter is ever
    missed (est ≥ true); collisions can only add false positives,
    bounded by the width. The candidate set here is the distinct items
    (already being counted once per distinct value is what the sketch
    AVOIDS at scale — a deployment feeds a sampled/streamed candidate
    set instead; the full-distinct probe keeps the oracle exact)."""
    sketch = cms_sketch(df, value_col, depth, width)
    items = df.select(value_col).distinct()
    return (cms_estimate(sketch, items, value_col, depth, width)
            .filter(F.col("est") >= threshold))

