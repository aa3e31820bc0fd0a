"""Interleaved A/B of two checkouts on the crawlbench benchmark.

    python3 tools/ab_crawlbench.py PARENT_DIR CHANGE_DIR \\
        --workload crawl_polite --seeds 801 802 ... --out BENCH/ab/NAME

For each seed, runs ``crawlbench/run.py`` (the command and run length
each checkout's BENCHMARK.json declares) once in each checkout, and
alternates which side runs first from one seed to the next. Each run's
last stdout line (the benchmark's JSON result) is appended, with the
seed, the run order and the ``#`` info lines, to ``OUT/parent.jsonl`` or
``OUT/change.jsonl``. A side already stored for a seed is not run
again, so re-running the command only re-prints the report from the
stored samples.

The report gives, per end-to-end metric: each side's median and
quartiles, the pairs the change won (ties count for neither side), the
parent's interquartile range, and two verdicts. ``gain`` holds when the
change wins at least 9 of 10 pairs and its median is better by more
than the parent's IQR. ``bound`` holds when the change's median is no
worse than the parent's by more than the metric's bound (a fraction of
the parent median); a spread wider than the bound, with the two sides'
runs overlapping, reads ``unresolved``.

The tool imports nothing from, and writes nothing to, ``crawlbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SIDES = ("parent", "change")


def bench_spec(checkout: str) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(checkout: str, workload: str, seed: int,
             timeout_s: float) -> dict:
    """One benchmark run in ``checkout``: the parsed last JSON line plus
    the ``# key value`` info lines and the wall time."""
    spec = bench_spec(checkout)
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"])]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                       timeout=timeout_s)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{checkout}: exit {p.returncode} on seed {seed}")
    info = {}
    for ln in lines:
        if ln.startswith("# "):
            k, _, v = ln[2:].partition(" ")
            info[k] = v
    return {"seed": seed, "workload": workload, "wall_s": wall,
            "info": info, "result": json.loads(lines[-1])}


def load(out: str, side: str) -> list[dict]:
    path = os.path.join(out, f"{side}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def report(out: str, workload: str, spec: dict) -> None:
    runs = {s: {r["seed"]: r for r in load(out, s)
                if r["workload"] == workload} for s in SIDES}
    seeds = sorted(set(runs["parent"]) & set(runs["change"]))
    if not seeds:
        print("no paired samples")
        return
    fails = {s: sum(runs[s][k]["result"]["failed"] for k in seeds)
             for s in SIDES}
    print(f"workload {workload}: {len(seeds)} pairs, seeds {seeds}")
    print(f"failed checks: parent {fails['parent']}, "
          f"change {fails['change']}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [runs[s][k]["result"]["metrics"][name]["value"]
                    for k in seeds] for s in SIDES}
        (p1, pm, p3), (c1, cm, c3) = (quartiles(vals[s]) for s in SIDES)
        sign = 1 if lower else -1  # > 0: the change is better
        diffs = [sign * (p - c) for p, c in zip(vals["parent"], vals["change"])]
        wins = sum(d > 0 for d in diffs)
        losses = sum(d < 0 for d in diffs)
        iqr = p3 - p1
        gain = wins >= 0.9 * len(seeds) and sign * (pm - cm) > iqr
        worse = sign * (cm - pm) / pm if pm else 0.0  # > 0: change worse
        spread = max((p3 - p1) / pm if pm else 0.0,
                     (c3 - c1) / cm if cm else 0.0)
        if worse > m["bound"]:
            bound = "WORSE"
        elif spread > m["bound"] and not (
                max(vals["change"]) < min(vals["parent"]) if lower
                else min(vals["change"]) > max(vals["parent"])):
            bound = "unresolved"
        else:
            bound = "ok"
        print(f"{name} [{m['unit']}] parent {pm:.3f} (q1 {p1:.3f} q3 {p3:.3f})"
              f"  change {cm:.3f} (q1 {c1:.3f} q3 {c3:.3f})"
              f"  diff {(cm - pm) / pm:+.1%}  wins {wins}/{len(seeds)}"
              f" (losses {losses})  parent IQR {iqr:.3f}"
              f"  gain {'yes' if gain else 'no'}"
              f"  bound {m['bound']} {bound}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out", required=True,
                    help="directory for parent.jsonl / change.jsonl")
    ap.add_argument("--timeout", type=float, default=1200.0,
                    help="seconds before one run is abandoned")
    args = ap.parse_args(argv)
    dirs = {"parent": os.path.abspath(args.parent),
            "change": os.path.abspath(args.change)}
    os.makedirs(args.out, exist_ok=True)
    done = {s: {r["seed"] for r in load(args.out, s)
                if r["workload"] == args.workload} for s in SIDES}
    for n, seed in enumerate(args.seeds):
        order = SIDES if n % 2 == 0 else SIDES[::-1]
        for pos, side in enumerate(order):
            if seed in done[side]:
                continue
            rec = run_once(dirs[side], args.workload, seed, args.timeout)
            rec["first"] = pos == 0
            with open(os.path.join(args.out, f"{side}.jsonl"), "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            r = rec["result"]
            print(f"seed {seed} {side}: failed {r['failed']}/{r['attempted']}"
                  + "".join(f" {k} {v['value']:.3f}"
                            for k, v in r["metrics"].items())
                  + f" steal {rec['info'].get('steal_frac', '?')}",
                  flush=True)
    report(args.out, args.workload, bench_spec(dirs["parent"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
