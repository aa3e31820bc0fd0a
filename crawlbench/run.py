"""Benchmark for the crawl engine and its operators.

    python3 crawlbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, ``local[nproc]``, closed
batch jobs run to completion. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` makes the separate traced run (Spark event log,
Python UDF profiler, wave stepping, layer replays) and prints the
per-layer metrics. Every metric is printed as ``name value unit`` and the
last stdout line is the JSON result. Work files go to ``.crawlbench/``
in the checkout and are removed at exit; generated image payloads are
cached there across runs.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = "azuresearchcrawlervector_spark"


def metric_units(kind: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def host_resources() -> tuple[int, int]:
    """(cpus, memory MB) of the host the run sees."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal"))
    return cpus, kb // 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot (/proc/stat)."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def driver_memory_mb(mem_mb: int) -> int:
    """A quarter of the host, between 1 and 4 GB: the driver JVM runs the
    executors too (local mode) but shares the host with the Python
    workers."""
    return max(1024, min(4096, mem_mb // 4))


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, state) of every process."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(pid)] = (int(fields[1]), fields[0])
    return out


def descendants(root: int) -> set[int]:
    table, out, todo = _proc_table(), set(), [root]
    while todo:
        parent = todo.pop()
        kids = [c for c, (pp, _) in table.items() if pp == parent]
        out.update(kids)
        todo.extend(kids)
    return out


def wait_gone(pids: set[int], timeout_s: float = 30.0) -> None:
    """Wait until none of ``pids`` runs any more (zombies count as gone)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        table = _proc_table()
        if not any(p in table and table[p][1] != "Z" for p in pids):
            return
        time.sleep(0.1)


class Bench:
    """Session, work directories and clean shutdown for one run."""

    def __init__(self, args):
        self.args = args
        self.cpus, self.mem_mb = host_resources()
        self.cache = os.path.join(ROOT, ".crawlbench", "cache")
        self.work = os.path.join(ROOT, ".crawlbench", f"run-{os.getpid()}")
        for d in ("tmp", "local", "eventlog", "profile"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        # Python's temp dir outlives the run, like /tmp on a host: the
        # program compiles its JPEG decoder there once (core/cjpeg.py)
        self.tmp = os.path.join(ROOT, ".crawlbench", "tmp")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = self.tmp
        # no hsperfdata files in the system temp dir from either JVM
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        self.spark = None
        self.jvm = None
        self.stopped_rss_mb = 0.0
        self.setup: dict[str, float] = {}
        self.phases: dict[str, float] = {}  # where a run's wall time went

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def start(self) -> None:
        """Session start + Python worker warm-up (both part of setup_s)."""
        from pyspark import SparkContext
        from azuresearchcrawlervector_spark.session import get_spark

        t0 = time.monotonic()
        conf = {
            "spark.driver.memory": f"{driver_memory_mb(self.mem_mb)}m",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("crawlbench", master=f"local[{self.cpus}]",
                               shuffle_partitions=self.cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = getattr(SparkContext._gateway, "proc", None)
        self.setup["session_s"] = time.monotonic() - t0

        from pyspark.sql import functions as F
        t0 = time.monotonic()
        warm = F.pandas_udf(lambda s: s + 1, "long")
        self.spark.range(self.cpus * 64, numPartitions=self.cpus) \
            .select(warm("id")).write.format("noop").mode("overwrite").save()
        self.setup["warm_s"] = time.monotonic() - t0

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus the JVM (as
        it was when the JVM stopped, once it has)."""
        if self.jvm is None and self.stopped_rss_mb:
            return self.stopped_rss_mb
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        if self.jvm is not None:
            try:
                with open(f"/proc/{self.jvm.pid}/status") as fh:
                    jvm_kb = next(int(ln.split()[1]) for ln in fh
                                  if ln.startswith("VmHWM"))
            except (OSError, StopIteration):
                pass
        return (py_kb + jvm_kb) / 1024.0

    def stop(self) -> None:
        """Stop Spark, then wait for the JVM and the Python workers it
        forked (they exit when the JVM does) to end."""
        from pyspark import SparkContext
        workers = set()
        if self.jvm is not None:
            self.stopped_rss_mb = self.peak_rss_mb()
            workers = descendants(self.jvm.pid)
        if self.spark is not None:
            gw = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
        if self.jvm is not None:
            try:
                self.jvm.stdin.close()
            except OSError:
                pass
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            self.jvm = None
            wait_gone(workers)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def emit(result: dict, metrics: dict, units: dict, info: dict) -> None:
    for k, v in info.items():
        print(f"# {k} {v}")
    for name, unit in units.items():
        print(f"{name} {metrics[name]:.6g} {unit}")
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()},
    }
    print(json.dumps(out), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_bulk", "crawl_polite", "corpus_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_run, ticks0 = time.monotonic(), cpu_ticks()

    if not os.path.isdir(os.path.join(ROOT, PROGRAM)):
        print(f"crawlbench: {PROGRAM}/ not found under {ROOT}; run from the "
              "root of a checkout of the program", file=sys.stderr)
        return 2
    if HERE not in sys.path:
        sys.path.insert(0, HERE)

    bench = Bench(args)
    try:
        if args.workload == "corpus_ops":
            import corpus_ops as wl
        else:
            import crawls as wl
        # trace runs fold the event log, which needs Spark stopped first:
        # the workload calls bench.stop() itself
        result = wl.run(bench)
    finally:
        bench.stop()
        bench.cleanup()
    units = metric_units("per_layer" if args.trace else "end_to_end")
    info = {"workload": args.workload, "seed": args.seed,
            "cpus": bench.cpus, "mem_mb": bench.mem_mb,
            "driver_memory_mb": driver_memory_mb(bench.mem_mb),
            "error_rate": result["failed"] / result["attempted"],
            "failed_checks": ",".join(result["failures"]) or "-",
            "run_wall_s": f"{time.monotonic() - t_run:.1f}",
            # share of the host's CPU time the hypervisor took from this VM
            # during the run: the main source of run-to-run spread
            "steal_frac": f"{steal_frac(ticks0, cpu_ticks()):.4f}",
            **{k: f"{v:.6g}" for k, v in result.get("report", {}).items()}}
    # a layer the workload bypasses reads 0; every end-to-end metric
    # must have been measured
    metrics = {n: float(result["metrics"].get(n, 0.0) if args.trace
                        else result["metrics"][n]) for n in units}
    emit(result, metrics, units, info)
    return 0


if __name__ == "__main__":
    sys.exit(main())
