"""Count-Min sketch (operators/cms.py)."""
import hashlib

from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.operators.cms import (
    cms_estimate, cms_heavy_hitters, cms_merge, cms_sketch,
)


def _bucket(v, j, width=1024):
    return int(hashlib.md5(f"{j}:{v}".encode()).hexdigest()[:15], 16) % width


def test_sketch_size_and_python_twin(spark):
    df = spark.range(50_000).selectExpr("concat('t', id % 300) AS tok")
    sk = cms_sketch(df, "tok")
    rows = sk.collect()
    assert len(rows) <= 4 * 1024
    # one spot-checked counter equals the python twin's count
    counts = {}
    for i in range(50_000):
        v = f"t{i % 300}"
        counts[(0, _bucket(v, 0))] = counts.get((0, _bucket(v, 0)), 0) + 1
    got = {(r["j"], r["bucket"]): r["c"] for r in rows if r["j"] == 0}
    assert got == counts


def test_estimate_one_sided_and_tight_when_sparse(spark):
    # 300 distinct over 4x1024 counters: collisions are rare; most
    # estimates are EXACT, none ever under-counts
    df = spark.range(30_000).selectExpr("concat('t', id % 300) AS tok")
    est = {r["value"]: r["est"] for r in
           cms_heavy_hitters(df, "tok", threshold=1).collect()}
    assert len(est) == 300
    assert all(e >= 100 for e in est.values())          # true count = 100
    assert sum(1 for e in est.values() if e == 100) >= 290


def test_heavy_hitters_never_miss(spark):
    rows = [("hot",)] * 5000 + [(f"cold{i}",) for i in range(2000)]
    df = spark.createDataFrame(rows, "tok string")
    hh = {r["value"]: r["est"] for r in
          cms_heavy_hitters(df, "tok", threshold=1000).collect()}
    assert "hot" in hh and hh["hot"] >= 5000


def test_sketches_merge_by_addition(spark):
    df = spark.range(10_000).selectExpr("concat('t', id % 50) AS tok")
    a = cms_sketch(df.filter("id < 6000"), "tok")
    b = cms_sketch(df.filter("id >= 6000"), "tok")
    merged = cms_merge(a.unionByName(b))
    whole = cms_sketch(df, "tok")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_probe_join_broadcasts(spark):
    df = spark.range(5_000).selectExpr("concat('t', id % 20) AS tok")
    plan = (cms_heavy_hitters(df, "tok", threshold=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Cartesian" not in plan


def test_estimate_absent_item_is_zero(spark):
    from azuresearchcrawlervector_spark.operators.cms import cms_sketch
    df = spark.range(1000).selectExpr("concat('t', id % 10) AS tok")
    sk = cms_sketch(df, "tok")
    items = spark.createDataFrame(
        [("t3",), ("never-counted-item-xyz",)], "tok string")
    got = {r["value"]: r["est"] for r in
           cms_estimate(sk, items, "tok").collect()}
    assert got["t3"] >= 100
    # an uncounted item reads its (likely untouched) counters: with 10
    # distinct values over 4x1024 cells the min is 0, never a dropped row
    assert got["never-counted-item-xyz"] == 0
