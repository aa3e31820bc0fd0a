"""tools/wave_timeline.py on a synthetic 3-job event log (no Spark)."""

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "wave_timeline", os.path.join(ROOT, "tools", "wave_timeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _job(jid, stage, start, end, site, tasks):
    """Event-log lines of one job: start, its tasks (launch, finish), end
    (times in seconds, written as the log's epoch milliseconds)."""
    lines = [{"Event": "SparkListenerJobStart", "Job ID": jid,
              "Submission Time": start * 1e3, "Stage IDs": [stage],
              "Properties": {"callSite.short": site}}]
    for launch, finish in tasks:
        lines.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                      "Task Info": {"Launch Time": launch * 1e3,
                                    "Finish Time": finish * 1e3},
                      "Task Metrics": {}})
    lines.append({"Event": "SparkListenerJobEnd", "Job ID": jid,
                  "Completion Time": end * 1e3})
    return lines


def test_wave_timeline_splits_jobs_at_commits(tmp_path, capsys):
    t = 1_700_000_000.0
    events = (_job(0, 0, t + 0.5, t + 1.5, "collect at crawl.py:1",
                   [(t + 0.5, t + 1.0), (t + 0.6, t + 1.4)])
              + _job(1, 1, t + 1.0, t + 2.0, "parquet at checkpoint.py:2",
                     [(t + 1.1, t + 1.9)])
              + _job(2, 2, t + 3.5, t + 3.75, "count at crawl.py:3",
                     [(t + 3.5, t + 3.7)] * 3))
    logs = tmp_path / "eventlog"
    logs.mkdir()
    (logs / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    mdir = tmp_path / "ckpt" / "manifest"
    mdir.mkdir(parents=True)
    for it, ts in ((0, t), (1, t + 3.0), (2, t + 4.0)):
        p = mdir / f"v{it:05d}.json"
        p.write_text("{}")
        os.utime(p, (ts, ts))

    tool = _tool()
    waves = tool.timeline(tool.fold.read_event_log(str(logs)),
                          tool.fold.manifest_mtimes(str(tmp_path / "ckpt")))
    assert [w["iter"] for w in waves] == [1, 2]
    w1, w2 = waves
    assert [j["id"] for j in w1["jobs"]] == [0, 1]
    assert [j["id"] for j in w2["jobs"]] == [2]
    # wave 1: jobs cover 0.5–2.0 s of a 3 s window
    assert abs(w1["busy_s"] - 1.5) < 1e-6 and abs(w1["gap_s"] - 1.5) < 1e-6
    j0 = w1["jobs"][0]
    assert abs(j0["offset_s"] - 0.5) < 1e-6 and abs(j0["dur_s"] - 1.0) < 1e-6
    assert j0["tasks"] == 2 and abs(j0["max_task_s"] - 0.8) < 1e-6
    assert w2["jobs"][0]["tasks"] == 3
    assert abs(w2["busy_s"] - 0.25) < 1e-6 and abs(w2["gap_frac"] - 0.75) < 1e-6

    assert tool.main([str(logs), str(tmp_path / "ckpt")]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "wave 1: wall 3.00 s, 2 jobs, busy 1.50 s, gap 1.50 s (0.50)"
    assert out[2].split() == ["0.500", "1.000", "2", "0.800", "collect", "at",
                              "crawl.py:1"]
    assert out[4].startswith("wave 2: wall 1.00 s, 1 jobs")
    assert out[-1].split()[-1] == "crawl.py:3"
