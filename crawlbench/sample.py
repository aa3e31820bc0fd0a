"""Run the benchmark over several seeds and summarize the samples.

    python3 crawlbench/sample.py run --out crawlbench/baseline/set1 \\
        --seeds 1 2 3 --workloads crawl_polite corpus_ops [--trace 1]
    python3 crawlbench/sample.py summary crawlbench/baseline/set1 [set2]

``run`` appends one JSON line per run (seed, workload, wall time, the
``#`` info lines and the result object) to ``<out>/<workload>.jsonl``.
``summary`` prints, per workload and metric, the median, the quartile
spread (q3 - q1) / median over the runs, and for two sets the shift of
the second median against the first; with a traced set it adds the
tracing overhead (traced against untraced pass_s).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fold  # noqa: E402


def run(args) -> int:
    os.makedirs(args.out, exist_ok=True)
    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for seed in args.seeds:
        for wl in args.workloads:
            t0 = time.monotonic()
            p = subprocess.run(
                cfg["command"] + ["--workload", wl, "--seed", str(seed),
                                  "--seconds", str(cfg["run_seconds"]),
                                  "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            rec = {"workload": wl, "seed": seed, "trace": args.trace,
                   "rc": p.returncode, "wall_s": round(wall, 2),
                   "info": dict(ln[2:].split(" ", 1) for ln in lines
                                if ln.startswith("# ")),
                   "result": json.loads(lines[-1]) if p.returncode == 0
                   else None}
            with open(os.path.join(args.out, f"{wl}.jsonl"), "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(f"{wl} seed={seed} rc={p.returncode} wall={wall:.1f}s",
                  flush=True)
    return 0


def load(path: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".jsonl"):
            with open(os.path.join(path, name)) as fh:
                out[name[:-6]] = [json.loads(ln) for ln in fh if ln.strip()]
    return out


def values(recs, metric) -> list[float]:
    return [r["result"]["metrics"][metric]["value"] for r in recs
            if r["result"] and metric in r["result"]["metrics"]]


def summary(args) -> int:
    sets = [load(p) for p in args.sets]
    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    for wl, recs in sets[0].items():
        walls = [r["wall_s"] for r in recs]
        bad = [r["seed"] for r in recs if not (r["result"] or {}).get("correct")]
        print(f"{wl}: {len(recs)} runs, wall median {statistics.median(walls):.1f}s"
              f" max {max(walls):.1f}s, incorrect seeds {bad or '-'}")
        metrics = recs[0]["result"]["metrics"] if recs[0]["result"] else {}
        for m in metrics:
            v = values(recs, m)
            tail = "".join(f"  {k} {x:.5g}" for k, x in fold.summarize(v).items()
                           if k.startswith("p"))
            line = (f"  {m:28s} n {len(v):3d}  median {fold.median(v):12.5g}"
                    f"{tail}  spread {fold.spread(v):6.3f}")
            if m in bounds:
                line += f"  bound {bounds[m]:.2f}"
            for other in sets[1:]:
                v2 = values(other.get(wl, []), m)
                if v2 and fold.median(v):
                    line += (f"  | set2 spread {fold.spread(v2):6.3f} shift "
                             f"{fold.median(v2) / fold.median(v) - 1:+.3f}")
            print(line)
        traced = [r for r in recs if r["trace"] and r["result"]]
        untraced = [r for other in sets[1:] for r in other.get(wl, [])
                    if not r["trace"] and r["result"]]
        if traced and untraced:
            t = fold.median(values(traced, "trace.pass_s"))
            u = fold.median(values(untraced, "pass_s"))
            print(f"  tracing overhead: traced pass {t:.2f}s vs untraced "
                  f"median {u:.2f}s ({t / u - 1:+.1%})")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", type=int, nargs="+", required=True)
    r.add_argument("--workloads", nargs="+", required=True)
    r.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("summary")
    s.add_argument("sets", nargs="+")
    args = ap.parse_args()
    return run(args) if args.cmd == "run" else summary(args)


if __name__ == "__main__":
    sys.exit(main())
