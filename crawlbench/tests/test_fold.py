"""Unit tests for the benchmark's folding helpers (no Spark needed).

    python3 -m pytest crawlbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fold  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture
def jobs():
    with open(os.path.join(DATA, "events_small.jsonl")) as fh:
        return fold.fold_event_log(fh)


def test_unfinished_jobs_are_dropped(jobs):
    assert [j["id"] for j in jobs] == [0, 1, 2]


def test_call_site_to_module(jobs):
    # the traced run's stamp wins over the JVM call site
    assert jobs[0]["module"] == "plans.checkpoint"
    assert jobs[0]["site"] == "plans.checkpoint:write_delta:parquet"
    # PySpark's own Python call site (collect jobs)
    assert jobs[1]["module"] == "plans.crawl"
    # no Python frame recorded: unattributed
    assert jobs[2]["module"] is None


def test_task_metric_sums(jobs):
    j = jobs[0]
    assert j["tasks"] == 3
    assert j["run_s"] == pytest.approx(2.1)
    assert j["cpu_s"] == pytest.approx(1.8)
    assert j["gc_s"] == pytest.approx(0.015)
    assert j["shuffle_write_bytes"] == 5120
    assert j["shuffle_read_bytes"] == 30
    assert j["input_bytes"] == 3072 and j["input_records"] == 30
    assert j["spill_bytes"] == 512
    assert fold.sums(jobs, "tasks") == 5


def test_driver_gap_and_accounting(jobs):
    acc = fold.window_account(jobs, 1000.0, 1005.0)
    # busy: [1000, 1002] and the overlapping [1003, 1003.5] ∪ [1003.2, 1004]
    assert acc["busy_s"] == pytest.approx(3.0)
    assert acc["gap_s"] == pytest.approx(2.0)
    assert acc["gap_frac"] == pytest.approx(0.4)
    # named: job 0 (2 s) and job 1 (0.5 s); job 2 has no module
    assert acc["named_s"] == pytest.approx(2.5)
    assert acc["accounted_frac"] == pytest.approx(0.9)
    assert acc["jobs"] == 3
    # clipping to a window inside job 0
    assert fold.window_account(jobs, 1001.0, 1002.0)["gap_frac"] == 0


def test_stage_skew(jobs):
    # widest stage: two tasks of 0.8 s and 0.4 s
    assert fold.stage_skew(jobs) == pytest.approx(0.8 / 0.6)


def test_wave_intervals_from_manifest_mtimes(tmp_path):
    mdir = tmp_path / "manifest"
    mdir.mkdir()
    for i, t in enumerate((100.0, 103.0, 108.0, 110.0)):
        p = mdir / f"v{i:05d}.json"
        p.write_text("{}")
        os.utime(p, (t, t))
    (mdir / "v00004.json.tmp").write_text("{}")  # uncommitted: ignored
    mt = fold.manifest_mtimes(str(tmp_path))
    assert [i for i, _ in mt] == [0, 1, 2, 3]
    assert fold.wave_intervals(mt) == pytest.approx([3.0, 5.0, 2.0])


@pytest.mark.parametrize("n,p", [(9, None), (20, None), (100, 90.0),
                                 (199, 90.0), (200, 95.0), (1000, 99.0),
                                 (10000, 99.9)])
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert fold.tail_percentile(n) == p


def test_summarize_reports_median_tail_and_count():
    s = fold.summarize([float(x) for x in range(1, 101)])
    assert s == {"n": 100, "median": 50.5, "p90": 90.0}
    assert fold.summarize([3.0, 1.0, 2.0]) == {"n": 3, "median": 2.0}


def test_spread_and_geomean():
    assert fold.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(
        (4.5 - 1.5) / 3.0)
    assert fold.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert fold.geomean([]) == 0.0


def test_linear_fit():
    icpt, slope = fold.linear_fit([0, 100, 200], [2.0, 3.0, 4.0])
    assert icpt == pytest.approx(2.0) and slope == pytest.approx(0.01)
    assert fold.linear_fit([5, 5], [1.0, 3.0]) == (2.0, 0.0)


def test_union_length():
    assert fold.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert fold.union_length([]) == 0
