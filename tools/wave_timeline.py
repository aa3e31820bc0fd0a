"""Per-wave job timeline of a crawl, from a Spark event log.

    python3 tools/wave_timeline.py EVENTLOG_DIR CHECKPOINT_DIR

Splits the event log's jobs at the crawl's manifest commit times (wave
``k`` runs from the commit of manifest ``k-1`` to that of manifest
``k``) and prints, per wave, each job that starts inside it: start
offset from the wave start, duration, task count, longest task and call
site. Each wave line also gives its busy seconds (some job running) and
gap seconds (no job running: driver-side planning, collects' Python
side, the commit).

The event log must be uncompressed and not rolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=
false``), as ``crawlbench/run.py --trace 1`` writes it. The folding is
``crawlbench/fold.py``'s, imported, not copied.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "crawlbench"))

import fold  # noqa: E402


def call_sites(log_dir: str) -> dict[int, str]:
    """Job id → the call site Spark recorded when the job started."""
    sites = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' not in line:
                    continue
                e = json.loads(line)
                props = e.get("Properties") or {}
                sites[e["Job ID"]] = (props.get(fold.SITE_PROP)
                                      or props.get("callSite.short") or "?")
    return sites


def timeline(jobs: list[dict], mtimes: list[tuple[int, float]]) -> list[dict]:
    """One dict per wave: its iteration, window, ``fold.window_account``
    numbers and the jobs that start inside the window."""
    waves = []
    for (_, t0), (it, t1) in zip(mtimes, mtimes[1:]):
        acct = fold.window_account(jobs, t0, t1)
        inside = [j for j in jobs if t0 <= j["start"] < t1]
        waves.append({"iter": it, "t0": t0, "t1": t1, **acct, "jobs": [
            {"id": j["id"], "offset_s": j["start"] - t0,
             "dur_s": j["end"] - j["start"], "tasks": j["tasks"],
             "max_task_s": max((d for ds in j["stage_tasks"].values()
                                for d in ds), default=0.0)}
            for j in sorted(inside, key=lambda j: j["start"])]})
    return waves


def render(waves: list[dict], sites: dict[int, str]) -> str:
    out = []
    for w in waves:
        out.append(f"wave {w['iter']}: wall {w['wall_s']:.2f} s, "
                   f"{len(w['jobs'])} jobs, busy {w['busy_s']:.2f} s, "
                   f"gap {w['gap_s']:.2f} s ({w['gap_frac']:.2f})")
        out.append(f"  {'start':>7} {'dur':>6} {'tasks':>5} {'max_task':>8}"
                   "  call site")
        for j in w["jobs"]:
            out.append(f"  {j['offset_s']:7.3f} {j['dur_s']:6.3f} "
                       f"{j['tasks']:5d} {j['max_task_s']:8.3f}  "
                       f"{sites.get(j['id'], '?')}")
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("eventlog_dir")
    ap.add_argument("checkpoint_dir")
    args = ap.parse_args(argv)
    jobs = fold.read_event_log(args.eventlog_dir)
    waves = timeline(jobs, fold.manifest_mtimes(args.checkpoint_dir))
    print(render(waves, call_sites(args.eventlog_dir)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
