"""URL-seen set at scale: a sharded Bloom sketch kept as snapshot files,
with an exact confirm join so correctness is never probabilistic.

The reference's seen set is an in-memory ``HashSet`` (one per crawler,
HeadlessBrowserCrawler.cs:14 / SitemapCrawler.cs:15 / Abot's internal
repository) — fine for 100 pages, impossible at the 10^10-URL frontier the
north_rule targets. Design here (north_star architecture):

1. The sketch is S power-of-two shards of one Bloom layout, sharded by
   ``pmod(url_hash, S)``. Each shard is an immutable snapshot file on
   the checkpoint store; each wave's delta is merged in EXECUTOR-side
   (merge_delta_sharded_files), rewriting only the shards it dirties,
   so the driver holds nothing but the {shard: file} index. At 16
   bits/key a 10^10-key sketch is 2048 shards of 16 MB; every sketch
   up to 16 MB is a single shard (S = 1).
2. The candidate wave is split by the sketch (ShardedSketchFiles):
   rows the Bloom says DEFINITELY-UNSEEN (no false negatives) bypass the
   join entirely; only the "maybe seen" sliver takes the exact
   ``left_anti`` join against the seen table. False positives therefore
   cost a join lookup, never a wrongly-dropped URL — dedup stays EXACT
   while the shuffle join input shrinks to ~the true-duplicate rate + FP
   rate.

``BloomFilter``/``merged_sketch``/``split_by_sketch`` remain the
one-shot broadcast sketch the wave uses to filter payload scans by its
own (wave-sized) key set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MULT = 0x9E3779B97F4A7C15
MASK64 = (1 << 64) - 1


class BloomFilter:
    """Fixed-size Bloom over 64-bit hashes; double hashing, k probes."""

    def __init__(self, n_bits: int, k: int = 7, bits: np.ndarray | None = None):
        assert n_bits % 8 == 0
        self.n_bits = n_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    @staticmethod
    def sized_for(n_keys: int, bits_per_key: int = 16) -> "BloomFilter":
        n_bits = max(1 << 13, 1 << int(np.ceil(np.log2(max(n_keys, 1) * bits_per_key))))
        return BloomFilter(n_bits)

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        """(n, k) bit positions via double hashing h1 + i*h2.

        n_bits is a power of two, so the modulo keeps only LOW bits — h2
        must not be a pure function of h's low bits or all k probes
        collapse to ~log2(n_bits) bits of entropy. A splitmix64-style
        finalizer folds the high bits in first.
        """
        h = hashes.astype(np.uint64)
        with np.errstate(over="ignore"):
            x = h.copy()
            x ^= x >> np.uint64(30)
            x *= np.uint64(0xBF58476D1CE4E5B9)
            x ^= x >> np.uint64(27)
            x *= np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(31)
            h1 = x
            h2 = ((x >> np.uint64(32)) ^ (h * np.uint64(MULT))) | np.uint64(1)
            i = np.arange(self.k, dtype=np.uint64)
            pos = (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(self.n_bits)
        return pos.astype(np.int64)

    def add_many(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        pos = self._positions(np.asarray(hashes))
        np.bitwise_or.at(self.bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(hashes))
        hit = (self.bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0
        return hit.all(axis=1)

    def merge_(self, other_bits: bytes | np.ndarray) -> None:
        arr = np.frombuffer(other_bits, dtype=np.uint8) if isinstance(other_bits, (bytes, bytearray)) else other_bits
        np.bitwise_or(self.bits, arr, out=self.bits)


def build_partition_sketches(df: DataFrame, hash_col: str, n_bits: int, k: int = 7) -> list[bytes]:
    """Per-partition Bloom bitmaps over ``hash_col`` (mapInPandas), returned
    for the driver-side OR-merge. One row (partition_id, bitmap) per task."""
    def build(batches):
        bf = BloomFilter(n_bits, k)
        for pdf in batches:
            bf.add_many(pdf[hash_col].to_numpy(dtype=np.int64))
        yield pd.DataFrame({"bitmap": [bf.bits.tobytes()]})

    rows = (
        df.select(hash_col)
        .mapInPandas(build, "bitmap binary")
        .collect()
    )
    return [r["bitmap"] for r in rows]


def merged_sketch(df: DataFrame, hash_col: str, n_bits: int, k: int = 7) -> BloomFilter:
    bf = BloomFilter(n_bits, k)
    for bm in build_partition_sketches(df, hash_col, n_bits, k):
        bf.merge_(bm)
    return bf


def split_by_sketch(candidates: DataFrame, sketch: BloomFilter,
                    hash_col: str = "url_hash",
                    broadcasts: list | None = None) -> DataFrame:
    """Add ``maybe_seen`` from the broadcast sketch (Arrow-batched probe).

    ``broadcasts``: optional caller-owned list the underlying broadcast
    handle is appended to — an iterative caller (the wave loop) should
    ``unpersist()`` them once the wave's jobs finish, or a 1000-wave
    crawl accumulates a thousand stale sketch broadcasts on the driver
    and executors."""
    spark = candidates.sparkSession
    b = spark.sparkContext.broadcast((sketch.n_bits, sketch.k, sketch.bits.tobytes()))
    if broadcasts is not None:
        broadcasts.append(b)

    @F.pandas_udf("boolean")
    def probe(h: pd.Series) -> pd.Series:
        n_bits, k, bits = b.value
        bf = BloomFilter(n_bits, k, np.frombuffer(bits, dtype=np.uint8))
        return pd.Series(bf.contains_many(h.to_numpy(dtype=np.int64)))

    return candidates.withColumn("maybe_seen", probe(F.col(hash_col)))


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame | None,
    sketch,
    hash_col: str = "url_hash",
    broadcasts: list | None = None,
) -> DataFrame:
    """EXACT dedup against the seen set, Bloom-accelerated.

    definite-new rows (sketch says absent — Bloom has no false negatives)
    skip the join; only maybe-seen rows take the exact left_anti join.
    ``sketch`` is a ShardedSketchFiles handle or None (plain anti-join).
    """
    if seen is None:
        return candidates
    if sketch is None:
        return candidates.join(
            seen.select(hash_col).distinct(), on=hash_col, how="left_anti"
        )
    tagged = sketch.split(candidates, hash_col, broadcasts)
    definite_new = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(
        seen.select(hash_col).distinct(), on=hash_col, how="left_anti"
    )
    return definite_new.unionByName(confirmed_new)


def merge_delta_sharded_files(
    df: DataFrame,
    hash_col: str,
    n_shards: int,
    bits_per_shard: int,
    index: dict[int, str],
    out_dir: str,
    iteration: int,
    k: int = 7,
) -> dict[int, str]:
    """EXECUTOR-SIDE merge of a wave's delta into the sharded-sketch
    snapshot: each task builds its shards' delta bitmaps, reads the
    previous snapshot shard file (from ``index``), ORs, and writes the
    new version file DIRECTLY to the (shared) checkpoint store — the
    driver sees only the returned ``{shard: new_path}`` rows for shards
    that actually changed. Clean shards (delta adds no bits) write
    nothing and keep their previous immutable file.

    This is the 10^10-scale path: no sketch bits ever reside on the
    driver (its state is the tiny path index), per-wave merge I/O is
    dirty-shards × shard-size and runs data-parallel across shards.
    Executors write the store directly — the same shared-store
    assumption the probe path (ShardedSketchFiles.split) already makes
    by reading shard files from tasks. Writes are tmp-file + atomic
    rename with version-stamped names, so task retries/speculation
    rewrite identical content harmlessly.

    Files are named ``shard%05d_v%05d.bin`` under ``out_dir`` (the
    store's seen_sketch dir, plans.checkpoint.SnapshotStore.sketch_dir).

    Expected shards per task ≈ 1 (numPartitions = n_shards), so task
    memory is ~one shard bitmap; worst-case hash collisions put a small
    constant number of shards in one task.
    """
    import os
    import uuid

    # The Spark-side partitioner uses pmod(int64 hash, n_shards) while the
    # task-side shard id uses uint64 % n_shards; for NEGATIVE hashes these
    # agree only when n_shards divides 2^64.  A non-power-of-two n_shards
    # would split one shard's rows across two tasks whose last rename
    # silently drops the other's bits — lost dedup.  Same invariant as
    # ShardedSketchFiles.
    assert n_shards & (n_shards - 1) == 0, "n_shards must be a power of 2"

    spark = df.sparkSession
    b_index = spark.sparkContext.broadcast(
        {int(s): p for s, p in index.items()})
    parted = df.select(hash_col).repartition(
        n_shards, F.pmod(F.col(hash_col), F.lit(n_shards)))

    def build_merge(batches):
        local: dict[int, BloomFilter] = {}
        for pdf in batches:
            h = pdf[hash_col].to_numpy(dtype=np.int64)
            sid = (h.astype(np.uint64) % np.uint64(n_shards)).astype(np.int64)
            for s in np.unique(sid):
                bf = local.setdefault(int(s), BloomFilter(bits_per_shard, k))
                bf.add_many(h[sid == s])
        idx = b_index.value
        out_s, out_p = [], []
        for s, bf in local.items():
            prev_path = idx.get(s)
            if prev_path is not None:
                prev = _shard_bits_cached(prev_path)  # immutable, cacheable
                if not np.any(bf.bits & ~prev):
                    continue  # clean: keep the previous file
                np.bitwise_or(bf.bits, prev, out=bf.bits)
            path = os.path.join(
                out_dir, f"shard{s:05d}_v{iteration:05d}.bin")
            tmp = f"{path}.tmp.{uuid.uuid4().hex}"
            with open(tmp, "wb") as fh:
                fh.write(bf.bits.tobytes())
            os.replace(tmp, path)
            out_s.append(s)
            out_p.append(path)
        yield pd.DataFrame({
            "shard": np.asarray(out_s, dtype=np.int32), "path": out_p})

    os.makedirs(out_dir, exist_ok=True)
    rows = parted.mapInPandas(build_merge, "shard int, path string").collect()
    b_index.unpersist()
    return {int(r["shard"]): r["path"] for r in rows}


# per-executor-process cache of immutable shard snapshot files (paths are
# versioned, so a path's content never changes); bounded FIFO eviction
_SHARD_FILE_CACHE: dict[str, np.ndarray] = {}
_SHARD_FILE_CACHE_MAX = 32


def _shard_bits_cached(path: str) -> np.ndarray:
    bits = _SHARD_FILE_CACHE.get(path)
    if bits is None:
        with open(path, "rb") as fh:
            bits = np.frombuffer(fh.read(), dtype=np.uint8)
        while len(_SHARD_FILE_CACHE) >= _SHARD_FILE_CACHE_MAX:
            _SHARD_FILE_CACHE.pop(next(iter(_SHARD_FILE_CACHE)))
        _SHARD_FILE_CACHE[path] = bits
    return bits


class ShardedSketchFiles:
    """Probe handle over a sharded-sketch SNAPSHOT: (shard → bin path).

    Probing repartitions the candidates by shard id, so each task needs
    only its shards' files — read from the (shared) checkpoint store
    and cached per executor process. No driver broadcast of sketch bits
    at any size; per-task sketch traffic is bounded by shard size.
    With one shard every row is already shard-aligned, so the probe
    keeps the candidates' own partitioning (and width).
    A shard absent from the index has never been written = empty =
    definitely-unseen (correct: dirty-only snapshots skip untouched
    shards, and an untouched shard holds no keys).
    """

    def __init__(self, n_shards: int, n_bits_per_shard: int,
                 index: dict[int, str], k: int = 7):
        assert n_shards & (n_shards - 1) == 0
        self.n_shards = n_shards
        self.n_bits_per_shard = n_bits_per_shard
        self.index = {int(s): p for s, p in index.items()}
        self.k = k

    def split(self, candidates: DataFrame, hash_col: str = "url_hash",
              broadcasts: list | None = None) -> DataFrame:
        """Add ``maybe_seen``; ``broadcasts`` as in split_by_sketch."""
        from pyspark.sql.types import BooleanType, StructField, StructType
        spark = candidates.sparkSession
        n_shards, n_bits, k = self.n_shards, self.n_bits_per_shard, self.k
        b_index = spark.sparkContext.broadcast(self.index)  # tiny dict
        if broadcasts is not None:
            broadcasts.append(b_index)
        parted = candidates
        if n_shards > 1:
            P = min(n_shards, spark.sparkContext.defaultParallelism)
            parted = candidates.repartition(
                P, F.pmod(F.col(hash_col), F.lit(n_shards)))
        out_schema = StructType(
            candidates.schema.fields + [StructField("maybe_seen", BooleanType())])

        def probe(batches):
            idx = b_index.value
            for pdf in batches:
                h = pdf[hash_col].to_numpy(dtype=np.int64)
                sid = (h.astype(np.uint64) % np.uint64(n_shards)).astype(np.int64)
                out = np.zeros(len(h), dtype=bool)
                for s in np.unique(sid):
                    path = idx.get(int(s))
                    if path is None:
                        continue  # never-written shard = empty
                    bf = BloomFilter(n_bits, k, _shard_bits_cached(path))
                    m = sid == s
                    out[m] = bf.contains_many(h[m])
                res = pdf.copy()
                res["maybe_seen"] = out
                yield res

        return parted.mapInPandas(probe, out_schema)
