"""HyperLogLog distinct counting as a composable, mergeable sketch.

Counting distinct URLs/hosts/tokens at 10^10 rows with exact
``countDistinct`` shuffles every distinct value; HLL (Flajolet et al.
2007) shuffles at most ``p = 2^b`` register rows PER GROUP, and the
register merge (elementwise max) is associative — partial aggregation
does almost all the work map-side, and sketches from different
days/partitions/tables merge without re-reading data. This is how the
crawl's frontier metrics (distinct URLs per host, per wave) stay
bounded when the frontier no longer fits anything central.

Determinism contract (the repo's md5-60 device): the value hash is the
top 60 bits of md5, register index = top ``b`` bits, rho = leading-zero
rank of the remaining ``60-b`` bits. The harmonic denominator is kept
as an EXACT int64 (sum of ``2^(w+1-rho)`` over registers, empty
registers contributing ``2^(w+1)``), so the estimate is ONE float
division of exact integers — bit-reproducible in ANSI SQL, which is
what makes the DuckDB oracle twin possible for an approximate sketch.

Bias handling: the classic small-range linear-counting correction
(E <= 2.5p and zero registers present); the large-range correction is
unnecessary at 60-bit hashes.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _alpha(p: int) -> float:
    if p == 16:
        return 0.673
    if p == 32:
        return 0.697
    if p == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / p)


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    b: int = 8,
) -> DataFrame:
    """The sketch itself: (*group_cols, _idx, _rho) — per group, the max
    rho observed in each touched register (≤ 2^b rows per group).
    Mergeable: union register tables from any number of partial scans
    (days, tables, partitions) and re-apply hll_merge — max is
    associative, so partial aggregation does the work map-side."""
    assert 4 <= b <= 16
    w = 60 - b  # rho bits
    gs = list(group_cols)
    h = (f"CAST(conv(substring(md5(CAST({value_col} AS STRING)), 1, 15),"
         f" 16, 10) AS BIGINT)")
    idx = f"CAST(shiftright({h}, {w}) AS INT)"
    # rho = leading-zero count of the w-bit suffix + 1; bin() has no
    # leading zeros so bit-length(x>0) = length(bin(x))
    wv = f"({h} & {(1 << w) - 1}L)"
    rho = (f"CASE WHEN {wv} = 0 THEN {w + 1}"
           f" ELSE {w} + 1 - length(bin({wv})) END")
    # NULL values are "no value": md5(NULL) would otherwise produce a
    # NULL register row that inflates the non-empty count without
    # contributing to the harmonic sum
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*gs, F.expr(idx).alias("_idx"), F.expr(rho).alias("_rho"))
        .groupBy(*gs, "_idx").agg(F.max("_rho").alias("_rho"))
    )


def hll_merge(regs: DataFrame,
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Merge unioned register tables: elementwise max per register."""
    return (regs.groupBy(*group_cols, "_idx")
            .agg(F.max("_rho").alias("_rho")))


def hll_estimate(regs: DataFrame,
                 group_cols: tuple[str, ...] = (),
                 b: int = 8) -> DataFrame:
    """(*group_cols, est): the HLL estimate from a register table,
    rounded to 4. The harmonic denominator is an exact int64 (each
    register contributes 2^(w+1-rho); empty ones 2^(w+1)), so the
    estimate is one float division of exact ints — bit-reproducible."""
    p = 1 << b
    w = 60 - b
    scale = 1 << (w + 1)
    gs = list(group_cols)
    agg = (
        regs.groupBy(*gs)
        .agg(
            F.count("*").alias("_nz"),
            # an empty register table sums to 0, not NULL: the
            # estimate of no values is 0
            F.coalesce(F.sum(F.expr(f"shiftleft(1L, {w + 1} - _rho)")),
                       F.lit(0)).alias("_zs"),
        )
        .withColumn("_z",
                    F.col("_zs") + (F.lit(p) - F.col("_nz")) * F.lit(scale))
    )
    alpha = _alpha(p)
    raw = (F.lit(float(alpha)) * F.lit(float(p)) * F.lit(float(p))
           * F.lit(float(scale)) / F.col("_z"))
    zeros = F.lit(p) - F.col("_nz")
    est = F.when(
        (raw <= F.lit(2.5 * p)) & (zeros > 0),
        F.lit(float(p)) * F.log(F.lit(float(p)) / zeros),
    ).otherwise(raw)
    return agg.select(*gs, F.round(est, 4).alias("est"))


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    b: int = 8,
) -> DataFrame:
    """One-shot: registers → estimate. Plan: two combinable groupBys;
    at most 2^b register rows per group ever shuffle."""
    return hll_estimate(
        hll_registers(df, value_col, group_cols, b), group_cols, b)

