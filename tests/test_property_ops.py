"""Property-based tests (hypothesis) for the operators' kernels: the
pure-python fixed-point quantizer, and the HLL sketch's register
algebra on a Spark session (few examples each, one job per example)."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from azuresearchcrawlervector_spark.operators.hll import (
    hll_estimate, hll_merge, hll_registers,
)
from azuresearchcrawlervector_spark.operators.pq import quantize_py

words = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
values = st.lists(words, min_size=0, max_size=300)


def _registers_by_group(spark, groups):
    """{group: {register index: rho}} from one hll_registers job over
    the tagged union of every group's values."""
    df = spark.createDataFrame(
        [(g, v) for g, vs in groups.items() for v in vs],
        "g string, u string")
    out = {g: {} for g in groups}
    for r in hll_registers(df, "u", ("g",)).collect():
        out[r["g"]][r["_idx"]] = r["_rho"]
    return out


@given(values, values)
@settings(max_examples=10, deadline=None)
def test_hll_register_merge_is_union(spark, a, b):
    # the sketch of a then b == elementwise max of the two separate
    # sketches, and hll_merge over their union computes exactly that
    # (the mergeability partial aggregation relies on)
    regs = _registers_by_group(spark, {"a": a, "b": b, "ab": a + b})
    ra, rb = regs["a"], regs["b"]
    assert regs["ab"] == {i: max(ra.get(i, 0), rb.get(i, 0))
                          for i in ra.keys() | rb.keys()}
    parts = spark.createDataFrame(
        list(ra.items()) + list(rb.items()), "_idx int, _rho int")
    merged = {r["_idx"]: r["_rho"] for r in hll_merge(parts).collect()}
    assert merged == regs["ab"]


@given(values)
@settings(max_examples=10, deadline=None)
def test_hll_duplicate_insensitive_and_monotone(spark, vs):
    # duplicates never change the sketch; adding a value never lowers
    # any register
    regs = _registers_by_group(
        spark, {"once": vs, "twice": vs + vs, "grown": vs + ["extra-value"]})
    once, grown = regs["once"], regs["grown"]
    assert regs["twice"] == once
    assert all(grown.get(i, 0) >= m for i, m in once.items())
    est = spark.createDataFrame(
        [(0, i, m) for i, m in grown.items()], "g int, _idx int, _rho int")
    assert hll_estimate(est, ("g",)).collect()[0]["est"] >= 0.0


@given(st.lists(st.integers(0, 53), min_size=256, max_size=256))
@settings(max_examples=10, deadline=None)
def test_hll_estimate_total_and_positive(spark, regs):
    # any register table (0 = empty register, no row) has an estimate,
    # and it is non-negative
    rows = [(i, m) for i, m in enumerate(regs) if m]
    table = spark.createDataFrame(rows, "_idx int, _rho int")
    est = hll_estimate(table).collect()[0]["est"]
    assert est is not None and est >= 0.0
    # empty sketch estimates zero distinct (linear counting of p zeros)
    empty = spark.createDataFrame([], "_idx int, _rho int")
    assert hll_estimate(empty).collect()[0]["est"] == 0.0


@given(st.floats(min_value=-1e6, max_value=1e6,
                 allow_nan=False, allow_infinity=False))
@settings(max_examples=300)
def test_quantize_py_half_away_and_bounded(x):
    q = quantize_py(x)
    # |round error| <= 0.5 fixed-point units
    assert abs(q - x * 1000) <= 0.5 + 1e-6
    # sign symmetry: round-half-away-from-zero
    assert quantize_py(-x) == -q
