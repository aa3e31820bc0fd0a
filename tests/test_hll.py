"""HyperLogLog sketch (operators/hll.py)."""
import hashlib

from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.operators.hll import (
    hll_distinct, hll_estimate, hll_merge, hll_registers,
)


def _py_hll(values, b=8):
    """Pure-python twin of the whole pipeline."""
    import math
    p, w = 1 << b, 60 - b
    regs = {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        idx, suffix = h >> w, h & ((1 << w) - 1)
        rho = (w + 1) if suffix == 0 else (w + 1 - suffix.bit_length())
        regs[idx] = max(regs.get(idx, 0), rho)
    scale = 1 << (w + 1)
    z = sum(1 << (w + 1 - m) for m in regs.values())
    z += (p - len(regs)) * scale
    alpha = 0.7213 / (1.0 + 1.079 / p)
    raw = alpha * p * p * scale / z
    zeros = p - len(regs)
    if raw <= 2.5 * p and zeros > 0:
        return round(p * math.log(p / zeros), 4)
    return round(raw, 4)


def test_hll_matches_python_twin_and_accuracy(spark):
    n = 5000
    df = spark.range(n).selectExpr("concat('url-', id) AS u")
    got = hll_distinct(df, "u").collect()[0]["est"]
    assert got == _py_hll([f"url-{i}" for i in range(n)])
    assert abs(got - n) / n < 0.08       # ~6.5% sigma at b=8


def test_hll_small_range_linear_counting(spark):
    df = spark.range(30).selectExpr("concat('v', id) AS u")
    got = hll_distinct(df, "u").collect()[0]["est"]
    assert got == _py_hll([f"v{i}" for i in range(30)])
    assert abs(got - 30) < 6


def test_hll_duplicates_do_not_inflate(spark):
    df = spark.range(10000).selectExpr("concat('k', id % 500) AS u")
    got = hll_distinct(df, "u").collect()[0]["est"]
    assert abs(got - 500) / 500 < 0.1


def test_hll_grouped(spark):
    df = spark.range(4000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
        "concat('u', id) AS u")
    out = {r["g"]: r["est"] for r in
           hll_distinct(df, "u", ("g",)).collect()}
    # bit-exact vs the python twin; accuracy within 2.5 sigma (~16%)
    assert out["a"] == _py_hll([f"u{i}" for i in range(0, 4000, 2)])
    assert out["b"] == _py_hll([f"u{i}" for i in range(1, 4000, 2)])
    assert abs(out["a"] - 2000) / 2000 < 0.16
    assert abs(out["b"] - 2000) / 2000 < 0.16


def test_hll_sketches_merge_exactly(spark):
    # union of two halves' registers + merge == sketch of the whole:
    # the property that lets per-day/per-partition sketches combine
    df = spark.range(3000).selectExpr("id", "concat('u', id) AS u")
    left = hll_registers(df.filter("id < 2000"), "u")
    right = hll_registers(df.filter("id >= 1000"), "u")  # overlapping!
    merged = hll_estimate(hll_merge(left.unionByName(right)))
    whole = hll_estimate(hll_registers(df, "u"))
    assert merged.collect()[0]["est"] == whole.collect()[0]["est"]


def test_hll_shuffles_at_most_p_rows_per_group(spark):
    regs = hll_registers(
        spark.range(100000).selectExpr("concat('u', id) AS u"), "u")
    assert regs.count() <= 256
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan or "HashAggregate" in plan


def test_hll_null_values_are_no_value(spark):
    df = spark.createDataFrame(
        [(f"u{i}",) for i in range(100)] + [(None,)] * 5, "u string")
    with_nulls = hll_distinct(df, "u").collect()[0]["est"]
    without = hll_distinct(df.filter("u IS NOT NULL"), "u").collect()[0]["est"]
    assert with_nulls == without
