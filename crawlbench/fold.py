"""Pure helpers: fold a Spark event log, wave intervals from manifest
mtimes, the percentile / sample-count rule, and in-memory spans.

Nothing here starts Spark, so ``crawlbench/tests`` runs these on small
recorded inputs.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import time
from contextlib import contextmanager

PACKAGE = "azuresearchcrawlervector_spark"
# local property the traced run stamps on every job:
# "<module>:<function>:<action>#<call>"
SITE_PROP = "crawlbench.site"
_PY_SITE = re.compile(rf"{PACKAGE}/(.+?)\.py:\d+")


# ------------------------------------------------------------ statistics
def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def tail_percentile(n: int, candidates=(99.9, 99.0, 95.0, 90.0)) -> float | None:
    """Highest reported percentile with at least ten samples beyond it
    (None when ``n`` samples support only the median)."""
    for p in candidates:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            return p
    return None


def summarize(values) -> dict:
    """Median, the highest percentile the sample count supports, and n."""
    out = {"n": len(values), "median": median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        ordered = sorted(values)
        k = min(len(ordered) - 1, math.ceil(p / 100.0 * len(ordered)) - 1)
        out[f"p{p:g}"] = ordered[k]
    return out


# ---------------------------------------------------- checkpoint readers
_MANIFEST = re.compile(r"v(\d{5})\.json")


def manifest_mtimes(ckpt_dir: str) -> list[tuple[int, float]]:
    mdir = os.path.join(ckpt_dir, "manifest")
    out = []
    for f in os.listdir(mdir):
        m = _MANIFEST.fullmatch(f)
        if m:
            out.append((int(m.group(1)), os.stat(os.path.join(mdir, f)).st_mtime))
    return sorted(out)


def wave_intervals(mtimes: list[tuple[int, float]]) -> list[float]:
    """Seconds between consecutive manifest commits: one per wave. The
    engine's own ``wall_ms`` stops before compaction and the commit, so
    the commit times are the wave boundaries a user observes."""
    ts = [t for _, t in sorted(mtimes)]
    return [b - a for a, b in zip(ts, ts[1:])]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


# ------------------------------------------------------------- event log
def module_of(props: dict) -> str | None:
    """Program module a job belongs to: the site the traced run stamped,
    else the Python call site PySpark records (collect jobs only)."""
    site = props.get(SITE_PROP)
    if site:
        return site.split(":", 1)[0]
    m = _PY_SITE.search(props.get("callSite.short") or "")
    return m.group(1).replace("/", ".") if m else None


def _task_sums(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics", {})
    return {
        "run_s": tm.get("Executor Run Time", 0) / 1e3,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0),
        "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {})
        .get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_records": tm.get("Input Metrics", {}).get("Records Read", 0),
    }


def fold_event_log(lines) -> list[dict]:
    """Spark event-log lines → one dict per job: id, start/end (epoch s),
    module, site, tasks, per-stage task durations and task-metric sums."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "id": jid, "start": e["Submission Time"] / 1e3, "end": None,
                "module": module_of(props), "site": props.get(SITE_PROP),
                "tasks": 0, "stage_tasks": {},
                **{k: 0 for k in _task_sums({})},
            }
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID")))
            if job is None:
                continue
            job["tasks"] += 1
            info = e.get("Task Info", {})
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            job["stage_tasks"].setdefault(e["Stage ID"], []).append(dur)
            for k, v in _task_sums(e.get("Task Metrics") or {}).items():
                job[k] += v
    return [j for j in sorted(jobs.values(), key=lambda j: j["id"])
            if j["end"] is not None]


def read_event_log(log_dir: str) -> list[dict]:
    jobs = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            jobs.extend(fold_event_log(fh))
    return jobs


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(jobs, t0: float, t1: float) -> list[tuple[float, float]]:
    return [(max(j["start"], t0), min(j["end"], t1)) for j in jobs
            if j["end"] > t0 and j["start"] < t1]


def window_account(jobs: list[dict], t0: float, t1: float) -> dict:
    """Split a wall window into job time attributed to program modules,
    unattributed job time and driver gap (no job running)."""
    wall = max(t1 - t0, 1e-9)
    inside = [j for j in jobs if j["end"] > t0 and j["start"] < t1]
    busy = union_length(clip(inside, t0, t1))
    named = union_length(clip([j for j in inside if j["module"]], t0, t1))
    return {
        "wall_s": wall, "jobs": len(inside),
        "tasks": sum(j["tasks"] for j in inside),
        "busy_s": busy, "named_s": named, "gap_s": wall - busy,
        "gap_frac": (wall - busy) / wall,
        "accounted_frac": (named + wall - busy) / wall,
    }


def sums(jobs: list[dict], key: str) -> float:
    return float(sum(j[key] for j in jobs))


def stage_skew(jobs: list[dict]) -> float:
    """Max/median task time of the widest stage of these jobs."""
    best = []
    for j in jobs:
        for durs in j["stage_tasks"].values():
            if len(durs) > len(best):
                best = durs
    if not best:
        return 0.0
    med = statistics.median(best)
    return max(best) / med if med > 0 else 0.0


def linear_fit(xs, ys) -> tuple[float, float]:
    """Least-squares (intercept, slope); slope 0 when xs are all equal."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return my, 0.0
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return my - slope * mx, slope


# ----------------------------------------------------------------- spans
class Tracer:
    """Spans (name, start, end, parent) and counts, kept in memory and
    written out once at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self.spans[self._stack[-1]]["name"]
               if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)
