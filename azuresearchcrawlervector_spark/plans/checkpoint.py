"""Snapshot-versioned table store — Iceberg-style manifests over parquet.

The Iceberg runtime jar is not available offline (SURVEY.md §7.3), so the
resume contract is preserved with the same commit protocol Iceberg uses:
data files first, a tiny JSON manifest LAST, manifest version = iteration.
A crash between data-file write and manifest write leaves orphans that the
deterministic re-run of that iteration overwrites — so resume from the
latest manifest is bit-identical (north_rule requirement; proven in
tests/test_checkpoint.py by kill-and-resume).

Table layout per crawl under ``root/``:
  manifest/v{iter:05d}.json      — the commit points
  pending/pending_{iter}.parquet — NEXT wave (full rewrite; the pending
                                   set is the active queue, small relative
                                   to the cumulative frontier)
  frontier_log/delta_{iter}.parquet — append-only history of every frontier
                                   row with its final state (audit/lineage;
                                   the seen set is a projection of it)
  documents/delta_{iter}.parquet — append-only output docs
  metrics/delta_{iter}.parquet   — append-only per-partition metrics
  seen_sketch/shard{s:05d}_v{iter:05d}.bin — seen-sketch shard snapshots
                                   (dirty shards only), plus a
                                   v{iter:05d}.json {shard: file} index
  compact_*/compact2_* files in the delta directories are the L1/L2
  compaction segments of those tables
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

# committed manifests ONLY — a crash between tmp write and os.replace
# leaves a (possibly truncated) vNNNNN.json.tmp that must never be read
_MANIFEST_RE = re.compile(r"v\d{5}\.json")

# the pending table's columns: the engine writes exactly these, and
# read_pending reads with them, so no wave runs a schema-inference job
PENDING_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("url_hash", LongType(), False),
    StructField("host", StringType(), True),
    StructField("root_host", StringType(), True),
    StructField("depth", IntegerType(), False),
    StructField("path", StringType(), False),
    StructField("priority", StringType(), False),
    StructField("parent_url", StringType(), True),
    StructField("link_pos", IntegerType(), True),
    StructField("iter_added", IntegerType(), False),
    StructField("attempts", IntegerType(), False),  # P4 retry counter
])


@dataclass
class Manifest:
    iter: int
    pending_path: str | None
    deltas: dict[str, list[str]] = field(default_factory=dict)
    pages_fetched: int = 0      # budget counter (A1 maxPages accounting)
    docs_emitted: int = 0       # successful pages → visit-order seq base
    pending_count: int = 0      # rows in pending_path
    # this wave's metrics rows (tiny per-partition counters) also ride
    # in the manifest for the console and per-wave inspection; the
    # metrics TABLE is the metrics/ delta files
    metrics_rows: list = field(default_factory=list)
    finished: bool = False
    # seen-sketch snapshot: the JSON {shard: file} index of the sketch
    # through this wave. None before the sketch gate; any other value
    # (a missing file, or the single .bin an older engine build wrote)
    # makes the next wave rebuild the sketch from the frontier log
    seen_sketch_path: str | None = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(text: str) -> "Manifest":
        d = json.loads(text)
        # manifests of older builds carry fields this one no longer reads
        # (config_fingerprint, embed_queue_*): name the mismatch
        unknown = d.keys() - Manifest.__dataclass_fields__.keys()
        if unknown:
            raise ValueError(
                f"checkpoint manifest has fields this build does not read "
                f"({', '.join(sorted(unknown))}): it was written by an "
                f"older build; start from a fresh checkpoint directory")
        return Manifest(**d)


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "manifest"), exist_ok=True)

    # -- manifest protocol --------------------------------------------------
    def _versions(self) -> list[str]:
        mdir = os.path.join(self.root, "manifest")
        return sorted(f for f in os.listdir(mdir) if _MANIFEST_RE.fullmatch(f))

    def latest(self) -> Manifest | None:
        versions = self._versions()
        if not versions:
            return None
        with open(os.path.join(self.root, "manifest", versions[-1])) as fh:
            return Manifest.from_json(fh.read())

    def all_manifests(self) -> list["Manifest"]:
        mdir = os.path.join(self.root, "manifest")
        out = []
        for f in self._versions():
            with open(os.path.join(mdir, f)) as fh:
                out.append(Manifest.from_json(fh.read()))
        return out

    def manifest_at(self, iteration: int) -> Manifest | None:
        path = os.path.join(self.root, "manifest", f"v{iteration:05d}.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return Manifest.from_json(fh.read())

    def commit(self, m: Manifest) -> None:
        """Write the manifest LAST and atomically (tmp + rename)."""
        path = os.path.join(self.root, "manifest", f"v{m.iter:05d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(m.to_json())
        os.replace(tmp, path)

    def rollback_to(self, iteration: int) -> None:
        """Drop manifests newer than ``iteration`` (snapshot rollback);
        also clears any orphaned .tmp from an interrupted commit."""
        mdir = os.path.join(self.root, "manifest")
        for f in os.listdir(mdir):
            if f.endswith(".tmp") or (
                    _MANIFEST_RE.fullmatch(f) and int(f[1:6]) > iteration):
                os.remove(os.path.join(mdir, f))

    # -- seen-sketch snapshots ------------------------------------------------
    def read_sketch(self, path: str | None) -> bytes | None:
        if not path or not os.path.exists(path):
            return None
        with open(path, "rb") as fh:
            return fh.read()

    # sharded seen-sketch (operators/seen.merge_delta_sharded_files):
    # per-shard bin files, versioned so they're immutable (executor probe
    # caches key on path), plus a tiny JSON index {shard: latest bin path}
    # per wave — only DIRTY shards get a new file, clean shards keep
    # their old path
    def sketch_dir(self) -> str:
        """Shard-file directory for the executor-side merge
        (operators/seen.merge_delta_sharded_files writes here directly)."""
        d = os.path.join(self.root, "seen_sketch")
        os.makedirs(d, exist_ok=True)
        return d

    def sketch_file_size(self, path: str) -> int:
        """Size in bytes of a sketch file, -1 if absent — lets a resume
        validate a sharded snapshot index WITHOUT reading shard bits
        onto the driver (content is trusted: files are tmp+rename
        atomic and version-immutable)."""
        try:
            return os.path.getsize(path)
        except OSError:
            return -1

    def write_sketch_index(self, index: dict[int, str], iteration: int) -> str:
        p = os.path.join(self.root, "seen_sketch", f"v{iteration:05d}.json")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({str(s): path for s, path in index.items()}, fh)
        os.replace(tmp, p)
        return p

    def read_sketch_index(self, path: str | None) -> dict[int, str] | None:
        if not path or not path.endswith(".json") or not os.path.exists(path):
            return None
        with open(path) as fh:
            return {int(s): p for s, p in json.load(fh).items()}

    # -- data files ----------------------------------------------------------
    def pending_path(self, iteration: int) -> str:
        return os.path.join(self.root, "pending", f"pending_{iteration:05d}.parquet")

    def delta_path(self, table: str, iteration: int) -> str:
        return os.path.join(self.root, table, f"delta_{iteration:05d}.parquet")

    def write_pending(self, df: DataFrame, iteration: int) -> str:
        p = self.pending_path(iteration)
        df.write.mode("overwrite").parquet(p)
        return p

    def write_delta(self, df: DataFrame, table: str, iteration: int) -> str:
        p = self.delta_path(table, iteration)
        df.write.mode("overwrite").parquet(p)
        return p

    def write_metrics_rows(self, rows: list, iteration: int) -> str:
        """Spill one wave's per-partition metrics rows to a tiny parquet
        file DRIVER-SIDE (pyarrow, no Spark job — the rows are already
        on the driver, O(partitions) of them). The metrics TABLE is then
        a normal delta-file parquet read: inspecting metrics for a
        10^6-wave crawl costs a parquet scan, not O(waves) driver memory
        re-materialized from every manifest."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            ("iter", pa.int32()), ("partition_id", pa.int32()),
            ("urls_in", pa.int64()), ("deduped", pa.int64()),
            ("fetched", pa.int64()), ("failed", pa.int64()),
            ("new_links", pa.int64()), ("wall_ms", pa.float64()),
        ])
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
            schema=schema)
        p = self.delta_path("metrics", iteration)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, p)
        return p

    def read_pending(self, spark: SparkSession, m: Manifest) -> DataFrame | None:
        if not m.pending_path:
            return None
        return spark.read.schema(PENDING_SCHEMA).parquet(m.pending_path)

    def read_table(self, spark: SparkSession, m: Manifest, table: str) -> DataFrame | None:
        paths = m.deltas.get(table) or []
        if not paths:
            return None
        return spark.read.parquet(*paths)
