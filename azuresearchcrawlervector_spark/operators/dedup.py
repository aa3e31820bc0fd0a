"""Deduplication family for large-scale training-data pipelines.

Five strategies, scale-ranked. All are DataFrame compositions; Python
appears only in the MinHash signature kernel (Arrow-vectorized numpy).

- exact_dedup          hash-groupBy on sha2(text)          exact, cheapest
- ngram_jaccard_pairs  inverted-index similarity join      exact, prunable
- minhash_lsh_pairs    shingle→minhash→band→bucket-join    approx, 10^10-scale
- simhash_pairs        64-bit sign-sum + hamming buckets   approx, cheap
- embedding_neardup    cosine over an embedding column     semantic near-dup

Scale notes: the inverted-index join's blow-up driver is token document
frequency — ``max_df`` prunes stop-tokens before the self-join (standard
prefix-filter trick). MinHash-LSH replaces the O(candidate²) verify with
banded bucket joins: only same-bucket pairs shuffle. Both paths end in a
groupBy on pair keys → map-side combine applies.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

MERSENNE61 = (1 << 61) - 1


def _widen(df: DataFrame) -> DataFrame:
    """Repartition to core width when the input scan produced fewer
    splits than cores — the explode/UDF stages below otherwise run
    inside the (possibly single-task) scan stage. No-op at scale.

    Width is estimated without a Python ``df.rdd`` conversion (that
    materializes a Python RDD wrapper per call):

    - file-backed scans: splits ≈ Σ ceil(file_bytes /
      maxPartitionBytes) over ``inputFiles`` — so a big SINGLE-file
      table (which the scan itself splits) is correctly judged wide
      and not shuffled. Files we cannot stat (remote schemes) count
      as one split each, i.e. the old file-count lower bound.
    - in-memory/derived inputs (``inputFiles() == []``): the physical
      plan's output partition count via the JVM ``toRdd`` handle
      (plans the query, does not run it); falls back to "narrow" if
      the handle is unavailable.

    Either estimate erring low costs only a round-robin shuffle that
    wasn't strictly needed — and only on inputs judged narrower than
    the core count, which a real at-scale table never is.
    """
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        if len(files) >= parallelism:
            return df
        try:
            max_pb = int(
                spark._jsparkSession.sessionState().conf()
                .filesMaxPartitionBytes())
        except Exception:
            max_pb = 128 << 20
        splits = 0
        for f in files:
            try:
                sz = os.path.getsize(f[7:] if f.startswith("file:") else f)
                splits += max(1, -(-sz // max_pb))
            except OSError:
                splits += 1
        return df if splits >= parallelism else df.repartition(parallelism)
    try:
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        n = 0
    return df if n >= parallelism else df.repartition(parallelism)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: the surviving (min) id + group size."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per document — pure built-ins
    (split → sequence → transform → explode), JVM-side end to end.

    Per-doc dedup is ``array_distinct`` BEFORE the explode — duplicates
    of a (doc_id, shingle) pair can only arise within one document, so
    this is exactly the old post-explode ``.distinct()`` without its
    all-rows Exchange. The token array is materialized once per row via
    a separate projection (the lm.py ``_ts`` device) — an inlined
    split() inside the transform lambda would re-evaluate per element,
    O(tokens²) splits per document."""
    # NB: Spark's sequence(1, n) with n < 1 produces a DESCENDING sequence,
    # so short texts must be short-circuited to an empty array explicitly.
    shingle_arr = F.expr(
        f"CASE WHEN size(_ts) < {k} THEN array()"
        f" ELSE array_distinct(transform(sequence(1, size(_ts) - {k - 1}),"
        f" i -> concat_ws(' ', slice(_ts, i, {k})))) END"
    )
    return (
        _widen(df)
        .select(F.col(id_col).alias("doc_id"),
                F.expr(f"split(lower({text_col}), '\\\\s+')").alias("_ts"))
        .select("doc_id", F.explode(shingle_arr).alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 3, threshold: float = 0.2, max_df: int | None = None,
) -> DataFrame:
    """Jaccard similarity join via inverted index on word k-grams.

    shingles → stop-shingle pruning → self-join on shingle →
    per-pair intersection counts → |A∪B| from per-doc sizes → filter.

    ``max_df`` (default None = EXACT join, the documented original
    contract) drops shingles appearing in more than max_df docs
    BEFORE the self-join — the standard prefix-filter: a
    single boilerplate shingle shared by f docs contributes f·(f-1)/2
    join rows, so an unpruned hot shingle makes the self-join quadratic
    at scale. Recall contract: pairs whose overlap consists ONLY of
    shingles each shared by > max_df documents are missed — such
    overlap is boilerplate by definition. Deterministic. Scale-sensitive
    call sites (``__spark_entry__``/bench) pass ``max_df=100``
    explicitly — the default stays exact so existing callers' results
    are unchanged.
    """
    sh = word_shingles(df, text_col, id_col, k)
    if max_df is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_df)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    # the pruned shingle set feeds BOTH the per-doc sizes and the pair
    # generation — without a barrier each consumer re-derives the
    # scan→shingle subtree (4 scans / 62 Exchanges in the audited
    # plan). localCheckpoint (not persist): it materializes inside the
    # calling query and is NEVER plan-matched by the CacheManager, so
    # a later query timing the same pipeline pays its own derivation
    # instead of silently reusing this one's cache.
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    # per-pair intersection counts via ONE shuffle on shingle: group the
    # posting list per shingle, expand ordered (a < b) pairs with a JVM
    # transform, then a combinable pair-count groupBy — the old
    # self-join shuffled `sh` twice and sorted both sides for the SMJ.
    # Output volume is identical (Σ df·(df-1)/2 over shingles; bounded
    # by max_df when set — the unpruned default keeps the documented
    # exact contract and its hot-shingle quadratic caveat either way).
    pair_arr = F.expr(
        "flatten(transform(ids, (a, i) -> transform("
        "slice(ids, i + 2, size(ids)), b -> struct(a AS id_a, b AS id_b))))")
    inter = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    pairs = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("n_shingles", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("n_shingles", "nb"), "id_b")
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


# ------------------------------------------------------------------ MinHash
# Permutation-matrix chunk bound: the vectorized kernel materializes a
# (chunk_shingles × n_hashes) uint64 block — at n_hashes=64 this cap
# bounds peak task memory at ~128 MB regardless of how many long
# documents land in one Arrow batch (an unchunked batch of 10k long
# docs could otherwise allocate multiple GB and OOM the executor).
MINHASH_CHUNK_SHINGLES = 1 << 18


def _minhash_params(n_hashes: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE61 - 1, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE61 - 1, size=n_hashes, dtype=np.int64)
    return a, b


_M61 = np.uint64(MERSENNE61)
_MASK30 = np.uint64((1 << 30) - 1)
_MASK31 = np.uint64((1 << 31) - 1)


def _mulmod61(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Exact (x * y) mod 2^61-1 in pure uint64 numpy (no Python bigints).

    Operands < 2^61. Split both into 30/31-bit halves so every partial
    product fits in uint64, then fold with 2^61 ≡ 1 (mod M):
      x*y = xH·yH·2^62 + (xH·yL + xL·yH)·2^31 + xL·yL
    """
    xH, xL = x >> np.uint64(31), x & _MASK31          # < 2^30, < 2^31
    yH, yL = y >> np.uint64(31), y & _MASK31
    t1 = xH * yH                                      # < 2^60
    t2 = xH * yL + xL * yH                            # < 2^62
    t3 = xL * yL                                      # < 2^62
    r1 = t1 << np.uint64(1)                           # 2^62 ≡ 2 (mod M)
    t2m = (t2 >> np.uint64(61)) + (t2 & _M61)
    t2m = (t2m >> np.uint64(61)) + (t2m & _M61)       # now < 2^61
    # t2m·2^31 = (t2m>>30)·2^61 + (t2m & MASK30)·2^31 ≡ rotate
    r2 = ((t2m & _MASK30) << np.uint64(31)) + (t2m >> np.uint64(30))
    r3 = (t3 >> np.uint64(61)) + (t3 & _M61)
    s = r1 + r2 + r3                                  # < 2^63, no overflow
    s = (s >> np.uint64(61)) + (s & _M61)
    s = (s >> np.uint64(61)) + (s & _M61)
    return np.where(s >= _M61, s - _M61, s)


def _permute61(hs: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(a*h + b) mod 2^61-1 for hs (n,) × params (k,) → (n, k) uint64."""
    p = _mulmod61(hs[:, None], a[None, :]) + b[None, :]
    p = (p >> np.uint64(61)) + (p & _M61)
    return np.where(p >= _M61, p - _M61, p)


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 64, k: int = 3, seed: int = 42,
    chunk_shingles: int = MINHASH_CHUNK_SHINGLES,
    shingle_hash: str = "blake2b",
) -> DataFrame:
    """(doc_id, sig ARRAY<LONG>) — numpy kernel over Arrow batches.

    Shingle hashing (``shingle_hash``):
      - "blake2b" (default): blake2b-to-int64 of the shingle bytes mod
        2^61-1 — the fast path (one 8-byte digest).
      - "md5_60": top 60 bits of md5(shingle) parsed as hex — EXACTLY
        reproducible in ANSI-SQL engines (DuckDB has md5 but not
        blake2b), used by the driver oracle twin. 2^60 < 2^61-1, so
        the value is already a valid mod-M61 residue.

    Then n_hashes universal-hash permutations (a*h+b mod 2^61-1) in
    exact uint64 arithmetic — the whole Arrow batch's shingles are
    permuted in ONE (ΣN, n_hashes) vectorized pass with a per-doc
    segmented min (minimum.reduceat).

    md5_60 fast path: tokenize → shingle → dedup → md5 all run as JVM
    built-ins (split / transform / array_distinct / md5 / conv — guide
    §4: only the columns the kernel needs cross the Python boundary),
    so the Arrow batches carry array<long> hash sets instead of raw
    text and the Python side is ONLY the vectorized permute+min. The
    blake2b path keeps the in-Python shingle hash (no JVM blake2b).
    Both paths produce identical signatures for identical shingle
    hashes (pinned by test_minhash_md5_jvm_matches_python).
    """
    import hashlib

    # the signature kernel is the CPU-heavy stage — if the input scan
    # produced fewer splits than cores (small file, one row-group), the
    # whole batch would run on one core; widen it first (no-op at scale,
    # where the scan already has thousands of splits)
    df = _widen(df)

    a_params, b_params = _minhash_params(n_hashes, seed)
    a64 = a_params.astype(np.uint64)
    b64 = b_params.astype(np.uint64)

    if shingle_hash == "md5_60":
        # two projections so `_ts` is materialized ONCE per row — an
        # inlined split() would re-evaluate per lambda element (the
        # lm.py _BIGRAMS device)
        # coalesce: NULL text must behave like the Python kernel's
        # (t or "") — zero shingles, all-zero signature
        toks = (f"filter(split(lower(coalesce({text_col}, '')),"
                f" '\\\\s+'), x -> x != '')")
        sh = (f"CASE WHEN size(_ts) = 0 THEN array() "
              f"WHEN size(_ts) < {k} THEN array(concat_ws(' ', _ts)) "
              f"ELSE array_distinct(transform("
              f"sequence(1, size(_ts) - {k - 1}),"
              f" i -> concat_ws(' ', slice(_ts, i, {k})))) END")
        h_arr = (f"transform({sh}, s -> "
                 f"CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))")
        hashed = (
            df.select(F.col(id_col).alias("doc_id"),
                      F.expr(toks).alias("_ts"))
            .select("doc_id", F.expr(h_arr).alias("_hs"))
        )

        @F.pandas_udf(ArrayType(LongType()))
        def sig_from_hashes(hs_col: pd.Series) -> pd.Series:
            per_doc: list[np.ndarray | None] = []
            parts: list[np.ndarray] = []
            pos = 0
            for hs in hs_col:
                n = len(hs)
                if n == 0:
                    per_doc.append(None)
                    continue
                parts.append(np.asarray(hs, dtype=np.int64))
                per_doc.append(np.arange(pos, pos + n))
                pos += n
            if parts:
                hsarr = np.concatenate(parts).astype(np.uint64)
                offsets = np.asarray(
                    [idx[0] for idx in per_doc if idx is not None],
                    dtype=np.intp)
                ends = np.append(offsets[1:], len(hsarr))
                mins_parts, d0 = [], 0
                n_docs = len(offsets)
                while d0 < n_docs:
                    d1 = d0 + 1
                    while (d1 < n_docs
                           and ends[d1 - 1] - offsets[d0] < chunk_shingles):
                        d1 += 1
                    lo, hi = offsets[d0], ends[d1 - 1]
                    perm = _permute61(hsarr[lo:hi], a64, b64)
                    mins_parts.append(np.minimum.reduceat(
                        perm, offsets[d0:d1] - lo, axis=0))
                    d0 = d1
                mins = np.concatenate(mins_parts, axis=0).astype(np.int64)
            # numpy row views, not .tolist(): Arrow consumes ndarray
            # cells directly — boxing 64 Python ints per doc measurably
            # dominates the kernel at millions of docs
            zeros = np.zeros(n_hashes, dtype=np.int64)
            out, mi = [], 0
            for idx in per_doc:
                if idx is None:
                    out.append(zeros)
                else:
                    out.append(mins[mi])
                    mi += 1
            return pd.Series(out)

        return hashed.select(
            "doc_id", sig_from_hashes(F.col("_hs")).alias("sig"))

    def _sh(s: str) -> int:
        return int.from_bytes(
            hashlib.blake2b(s.encode(), digest_size=8).digest(),
            "little") % MERSENNE61

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(text: pd.Series) -> pd.Series:
        per_doc: list[np.ndarray | None] = []
        flat: list[int] = []
        for t in text:
            words = (t or "").lower().split()
            if len(words) < k:
                shingles = {" ".join(words)} if words else set()
            else:
                shingles = {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}
            if not shingles:
                per_doc.append(None)
                continue
            start = len(flat)
            flat.extend(_sh(s) for s in shingles)
            per_doc.append(np.arange(start, len(flat)))
        if flat:
            hs = np.asarray(flat, dtype=np.uint64)
            offsets = np.asarray(
                [idx[0] for idx in per_doc if idx is not None], dtype=np.intp)
            ends = np.append(offsets[1:], len(hs))
            # permute in doc-aligned chunks (~MINHASH_CHUNK_SHINGLES
            # shingles, + at most one doc's overshoot), keeping per-doc
            # segmented minima — identical output to one (ΣN, k) pass,
            # bounded peak memory
            mins_parts, d0 = [], 0
            n_docs = len(offsets)
            while d0 < n_docs:
                d1 = d0 + 1
                while (d1 < n_docs
                       and ends[d1 - 1] - offsets[d0] < chunk_shingles):
                    d1 += 1
                lo, hi = offsets[d0], ends[d1 - 1]
                perm = _permute61(hs[lo:hi], a64, b64)   # (chunk, n_hashes)
                mins_parts.append(np.minimum.reduceat(
                    perm, offsets[d0:d1] - lo, axis=0))
                d0 = d1
            mins = np.concatenate(mins_parts, axis=0).astype(np.int64)
        zeros = np.zeros(n_hashes, dtype=np.int64)
        out, mi = [], 0
        for idx in per_doc:
            if idx is None:
                out.append(zeros)
            else:
                out.append(mins[mi])
                mi += 1
        return pd.Series(out)

    return df.select(F.col(id_col).alias("doc_id"), sig_udf(F.col(text_col)).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 64, bands: int = 16, k: int = 3, threshold: float = 0.5,
    seed: int = 42, hash_mode: str = "blake2b",
) -> DataFrame:
    """MinHash + banded LSH candidate generation + exact signature-estimate
    filter. bands=16 × rows=4 over 64 hashes → S-curve midpoint ~0.5.

    The 10^10-scale path: only same-(band, band-hash) rows join; the final
    estimate is sig-agreement fraction (no second pass over raw text).

    ``hash_mode``:
      - "blake2b" (default): blake2b shingle hash + Spark's internal
        ``hash()`` over the band's signature slice — the fast path.
      - "md5_60": md5-based shingle hash AND band bucket = md5 of the
        band's comma-joined signature longs — every step reproducible
        in ANSI SQL, used by the driver's DuckDB oracle twin. Bucket
        membership is identical in distribution (any injective-enough
        map of the band slice works); the verified output pairs differ
        only where 4-long band-hash collisions differ, i.e. ~never.
    """
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(
        df, text_col, id_col, n_hashes, k, seed,
        shingle_hash="md5_60" if hash_mode == "md5_60" else "blake2b",
    ).persist()
    if hash_mode == "md5_60":
        band_expr = (
            f"transform(sequence(0, {bands - 1}),"
            f" b -> md5(array_join(transform("
            f"slice(sig, b * {rows_per_band} + 1, {rows_per_band}),"
            f" x -> cast(x as string)), ',')))")
    else:
        band_expr = (
            f"transform(sequence(0, {bands - 1}),"
            f" b -> hash(slice(sig, b * {rows_per_band} + 1, {rows_per_band})))")
    banded = sig.select(
        "doc_id",
        F.posexplode(F.expr(band_expr)).alias("band", "band_hash"),
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "band_hash"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )
    est = (
        cand.join(sig.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sig", "sig_a"), "id_a")
        .join(sig.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sig", "sig_b"), "id_b")
        .withColumn(
            "est_jaccard",
            F.expr(f"size(filter(zip_with(sig_a, sig_b, (p, q) -> p = q), v -> v)) / {n_hashes}"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )
    return est


# ------------------------------------------------------------------ SimHash
def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              token_hash: str = "xxhash64") -> DataFrame:
    """SimHash over word tokens: per-token hash, sign-sum per bit, pack.
    Pure built-ins: explode → bit ops → groupBy-sum → pack.

    ONE shuffle: the 64 per-bit sign-sums are 64 aggregate COLUMNS of a
    single groupBy(doc_id) (map-side partial agg ⇒ one 64-long row per
    doc per map partition), not 64 exploded ROWS per token through a
    (doc_id, bit) shuffle followed by a second doc_id shuffle. At 10×
    the sf0.1 corpus this is ~40× faster than the two-shuffle explode
    formulation it replaced, and the shuffle row count is n_docs, not
    64 × n_docs.

    token_hash:
      - "xxhash64" (default): 64-bit xxhash64 tokens — the fast path.
      - "md5_60": top 60 bits of md5(token) parsed as hex — slightly
        slower but EXACTLY reproducible in ANSI-SQL engines (DuckDB has
        md5 but not xxhash64), used by the driver oracle twin.
    """
    toks = _widen(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    if token_hash == "md5_60":
        hashed = toks.withColumn(
            "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"))
        n_bits = 60
    else:
        hashed = toks.withColumn("h", F.xxhash64("tok"))
        n_bits = 64
    aggs = [
        F.sum(F.expr(
            f"CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END"
        )).alias(f"s{i}")
        for i in range(n_bits)
    ]
    pack = " + ".join(
        f"shiftleft(CAST(CASE WHEN s{i} > 0 THEN 1 ELSE 0 END AS BIGINT), {i})"
        for i in range(n_bits))
    return (
        hashed.groupBy("doc_id").agg(*aggs)
        .select("doc_id", F.expr(pack).alias("simhash"))
    )


def hamming_pairs(hashes: DataFrame, hash_col: str, id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """Pairs with hamming distance ≤ max_hamming over ANY int64 hash
    column — simhash signatures, image perceptual hashes (the
    input_hint catalog's `phash`), rolling fingerprints — candidate-
    generated by (max_hamming + 1) block buckets over the 64 bits.

    Pigeonhole: ≤ max_hamming differing bits spread over max_hamming + 1
    disjoint blocks leave at least one block untouched, so every true
    pair shares a (block, block_val) bucket — NO recall loss at the
    configured radius. Block widths shrink as the radius grows (64 /
    (r+1) bits), so buckets get hotter; radii above 7 (blocks narrower
    than 8 bits) are rejected — use MinHash-LSH for looser matching.
    Equi-joins only: candidate generation never goes all-pairs.
    """
    if not 0 <= max_hamming <= 7:
        raise ValueError("hamming_pairs supports max_hamming in [0, 7]; "
                         "wider radii need a different candidate scheme")
    n_blocks = max_hamming + 1
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0)
              for i in range(n_blocks)]
    offs = [sum(widths[:i]) for i in range(n_blocks)]
    block_exprs = [
        F.expr(f"(`{hash_col}` >> {o}) & {(1 << w) - 1}")
        for o, w in zip(offs, widths)
    ]
    blocks = hashes.select(
        F.col(id_col).alias("doc_id"), F.col(hash_col).alias("h64"),
        F.posexplode(F.array(*block_exprs)).alias("block", "block_val"),
    )
    cand = (
        blocks.alias("x").join(blocks.alias("y"), on=["block", "block_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"),
                F.col("x.h64").alias("ha"), F.col("y.h64").alias("hb"))
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming — simhash64
    signatures fed through the generic pigeonhole hamming_pairs.
    Signatures are persisted because both sides of the candidate
    self-join consume them (recompute = re-tokenizing the corpus)."""
    sh = simhash64(df, text_col, id_col).persist()
    return hamming_pairs(sh, "simhash", "doc_id", max_hamming)


# --------------------------------------------------- duplicate clustering
def duplicate_clusters_star(pairs: DataFrame, id_a: str = "id_a",
                            id_b: str = "id_b", max_iters: int = 60,
                            stats: dict | None = None) -> DataFrame:
    """Connected components over a duplicate-pair list → (doc_id,
    cluster_id), cluster_id = MIN doc id in the component (the canonical
    "keeper" every pipeline needs after pair generation: drop all rows
    whose doc_id != cluster_id). Deterministic; only ids appearing in at
    least one pair are returned (singletons are trivially their own
    cluster).

    Alternating large-star/small-star — the published MapReduce CC
    algorithm with O(log n) round convergence on ANY graph (min-label
    propagation needs O(diameter) rounds: a 10^7-node duplicate CHAIN
    would need 10^7 label rounds but ~2·log2 n star rounds).

    Per round (each step one equi-join + a map-side-combinable min agg):
    - large-star, per center u over ALL neighbors Γ(u):
      emit (v, min(Γ(u) ∪ {u})) for v ∈ Γ(u), v > u
    - small-star, per center u over smaller neighbors N(u) (edges are
      (big, small) after large-star): m = min(N(u)); emit (v, m) for
      v ∈ N(u) and (u, m)
    Stars (every node linked directly to its component min) are the
    unique fixpoint; convergence is detected by an (edge-count,
    bit_xor-of-xxhash64) signature — one 1-row collect per round, no
    driver-side edge materialization (a signature collision would need
    two consecutive distinct edge sets agreeing on count AND 64-bit
    hash xor: negligible, and the cost would be one early stop, caught
    by the fixpoint tests). ``stats`` (optional) receives
    {"rounds": r} for convergence-bound assertions.
    """
    # materialize the pair list ONCE: nodes and the initial edge set
    # both derive from it, and without this the (possibly expensive)
    # upstream pair-generation plan re-executes when the caller
    # evaluates the returned labels (it rides in through `nodes`)
    e0 = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
          .localCheckpoint(eager=True))
    nodes = (e0.select(F.col("u").alias("id"))
             .unionByName(e0.select(F.col("v").alias("id"))).distinct())
    # canonical (big, small) orientation; self-pairs carry no structure.
    # Each round's edge set is EAGERLY localCheckpoint-ed: it truncates
    # the logical plan (O(log n) rounds would otherwise nest O(log n)
    # joins deep — Catalyst analysis alone would dominate) and
    # materializes the round so the signature collect and the next
    # round share one computation. Executor-local storage with lineage
    # TRUNCATED: an executor loss mid-algorithm fails the job (lost
    # localCheckpoint blocks are unrecoverable) and needs a caller-level
    # retry — acceptable for an O(log n)-round batch job; use reliable
    # checkpoint() where executor churn is expected.
    edges = (
        e0.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct().localCheckpoint(eager=True)
    )
    prev_sig, rounds = None, 0
    for rounds in range(1, max_iters + 1):
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = (both.groupBy("u").agg(F.min("v").alias("mn"))
                .withColumn("mn", F.least("mn", F.col("u"))))
        # large-star output edges are (v, m) with m ≤ u < v: already
        # (big, small)-oriented for the small-star step
        led = (
            both.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v")).distinct()
        )
        smin = led.groupBy("u").agg(F.min("v").alias("mn"))
        new_edges = (
            led.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(smin.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
            .distinct().localCheckpoint(eager=True)
        )
        row = new_edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h")).collect()[0]
        sig = (int(row["n"]), int(row["h"] or 0))
        edges = new_edges
        if sig == prev_sig:
            break
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = rounds
    # At the star fixpoint every node has exactly one incident edge (to
    # its cluster min), so the min-agg is a no-op; if the loop exited at
    # max_iters SHORT of the fixpoint, it guarantees the one-row-per-
    # doc_id output contract still holds (labels merely not yet final).
    star = (edges.groupBy(F.col("u").alias("id"))
            .agg(F.min("v").alias("lab")))
    return (
        nodes.join(star, "id", "left")
        .select(F.col("id").alias("doc_id"),
                F.coalesce("lab", "id").alias("cluster_id"))
    )


# ------------------------------------------------------- embedding near-dup
# Auto-scaled bucket resolution (round-5 VERDICT #4): at FIXED planes
# the per-bucket population grows linearly with n, so within-bucket
# candidate volume (Σ bucket²/2) grows ~quadratically between manual
# re-tunes. The default derives planes from the table size instead:
# 2^planes buckets sized for ~NEARDUP_TARGET_BUCKET rows each, floored
# at 4 — every population ≤ 16 × target (n ≤ 8192 at the default, i.e.
# all oracle-checked scales) resolves to the historical 4 planes, so
# checked results are bit-identical to the fixed-plane operator.
NEARDUP_TARGET_BUCKET = 512
NEARDUP_PLANES_FLOOR = 4

# Vectorized-verify gate: when the vector table is small enough to ship
# to every executor (n · dim · 8 bytes ≤ this), the exact-cosine verify
# of the candidate pairs runs as a numpy kernel over Arrow batches
# (guide §4.2) instead of two vector-attaching joins + a per-pair
# zip_with/aggregate lambda — same float64 operation ORDER (sequential
# element adds), round+threshold stay JVM-side, so output is
# bit-identical (pinned by test). Above the gate: the equi-join verify,
# which never needs the table in one piece.
NEARDUP_BCAST_VERIFY_BYTES = 256 << 20


def _auto_planes(n_rows: int) -> int:
    import math
    if n_rows <= 0:
        return NEARDUP_PLANES_FLOOR
    return max(NEARDUP_PLANES_FLOOR,
               math.ceil(math.log2(max(n_rows / NEARDUP_TARGET_BUCKET, 1.0))))


def embedding_neardup_lsh(
    df: DataFrame, dim: int, vec_col: str = "embedding",
    id_col: str = "vec_id", threshold: float = 0.95,
    n_tables: int = 8, planes_per_table: int | None = None, seed: int = 42,
) -> DataFrame:
    """Bucketed cosine near-duplicates — the SCALE path (no crossJoin).

    Multi-table random-hyperplane LSH: ``n_tables`` independent sign-
    bucket functions of ``planes_per_table`` seeded hyperplanes each
    (default: derived from the table size, see _auto_planes — pass an
    int to pin the historical fixed resolution); candidates are pairs
    sharing a (table, bucket) cell in ANY table, deduplicated, then
    verified with the exact cosine. Plan shape: project(bucket array,
    JVM constant-folded dots) → posexplode → equi-self-join on (table,
    bucket) → distinct pair keys → exact verify (numpy kernel over the
    broadcast vector table when it fits — see the gate above — else two
    id equi-joins) — candidate volume is Σ bucket²/2 per table, never
    n²/2.

    Recall contract (deterministic, seed-fixed): a true pair is found
    iff some table leaves all its planes' signs equal — P(hit) =
    1-(1-(1-θ/π)^p)^T, e.g. ≈0.9998 at cosine 0.95 and ≈0.71 at 0.35
    with 4 planes/table. The brute-force twin
    ``embedding_neardup_pairs`` is the exact small-scale cross-check.
    """
    from .similarity import _bucket_expr, hyperplanes

    n_rows = df.count()
    if planes_per_table is None:
        planes_per_table = _auto_planes(n_rows)
    planes = hyperplanes(dim, n_tables * planes_per_table, seed)
    small = n_rows * dim * 8 <= NEARDUP_BCAST_VERIFY_BYTES
    if small:
        # small-table fast path: ONE driver collect feeds both the
        # bucket signatures (numpy, same float64 dot order as the SQL
        # projection — bit-identical buckets, pinned by the parity
        # test) and the broadcast verify kernel. This also skips
        # Catalyst analysis+codegen of the n_tables×planes×dim literal
        # hyperplane tree (~3k array literals at the 10x scale), which
        # costs seconds per call.
        ids_sorted, E, nrm = _collect_vectors(df, dim, vec_col, id_col)
        banded = _numpy_banded(df.sparkSession, ids_sorted, E, planes,
                               n_tables, planes_per_table)
    else:
        bucket_arr = F.array(*[
            F.expr(_bucket_expr(
                planes[t * planes_per_table:(t + 1) * planes_per_table],
                vec_col))
            for t in range(n_tables)
        ])
        banded = _widen(df).select(
            F.col(id_col).alias("vid"),
            F.posexplode(bucket_arr).alias("tbl", "bucket"),
        )
    cand = (
        banded.alias("x").join(banded.alias("y"), on=["tbl", "bucket"])
        .filter(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("id_a"), F.col("y.vid").alias("id_b"))
        .distinct()
    )
    if small:
        return _neardup_verify_bcast(df, cand, threshold,
                                     vectors=(ids_sorted, E, nrm))
    withnorm = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.sqrt(F.expr(
            f"aggregate({vec_col}, CAST(0.0 AS DOUBLE),"
            " (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")).alias("nrm"),
    )
    a = withnorm.select(F.col("vid").alias("id_a"), F.col("v").alias("va"),
                        F.col("nrm").alias("na"))
    b = withnorm.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"),
                        F.col("nrm").alias("nb"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "cosine",
            F.round(
                F.expr("aggregate(zip_with(va, vb, (x, y) ->"
                       " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                       " CAST(0.0 AS DOUBLE), (s, p) -> s + p)")
                / (F.col("na") * F.col("nb")), 4),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _collect_vectors(df: DataFrame, dim: int, vec_col: str, id_col: str):
    """(ids_sorted, E, nrm): the whole vector table as an id-sorted
    float64 numpy matrix + norms. Norms use the same sequential
    element-add order as the SQL aggregate. Small-table path only —
    gated by NEARDUP_BCAST_VERIFY_BYTES at the call site."""
    rows = df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v")) \
        .toPandas()
    ids = np.asarray(rows["i"], dtype=np.int64)
    order = np.argsort(ids)
    ids_sorted = ids[order]
    E = np.asarray([np.asarray(v, dtype=np.float64) for v in rows["v"]])
    E = E[order] if len(E) else E.reshape(0, dim)
    nrm = np.zeros(len(E))
    for j in range(E.shape[1]):
        nrm += E[:, j] * E[:, j]
    return ids_sorted, E, np.sqrt(nrm)


def _numpy_banded(spark, ids_sorted: np.ndarray, E: np.ndarray,
                  planes: np.ndarray, n_tables: int,
                  planes_per_table: int) -> DataFrame:
    """(vid, tbl, bucket) rows computed driver-side from the collected
    matrix — bit-identical buckets to the SQL literal-tree projection:
    each hyperplane dot adds products element 0..dim-1 sequentially
    (separate multiply/add ufuncs, no FMA), and the sign compare is the
    same `> 0` on the same double."""
    n = len(E)
    buckets = np.zeros((n, n_tables), dtype=np.int64)
    for t in range(n_tables):
        for p in range(planes_per_table):
            plane = planes[t * planes_per_table + p]
            acc = np.zeros(n)
            for j in range(E.shape[1]):
                acc += E[:, j] * plane[j]
            buckets[:, t] += (acc > 0).astype(np.int64) << p
    bdf = pd.DataFrame({
        "vid": np.repeat(ids_sorted, n_tables),
        "tbl": np.tile(np.arange(n_tables, dtype=np.int64), n),
        "bucket": buckets.reshape(-1),
    })
    return spark.createDataFrame(bdf, "vid long, tbl long, bucket long")


def _neardup_verify_bcast(df: DataFrame, cand: DataFrame,
                          threshold: float, vectors) -> DataFrame:
    """Exact-cosine verify of (id_a, id_b) candidate pairs with the
    whole vector table broadcast as a numpy matrix — the small-table
    fast path (gate: NEARDUP_BCAST_VERIFY_BYTES).

    Bit-parity with the join verify: every float64 operation happens in
    the SAME order — each float is cast to double, products are added
    sequentially element 0..dim-1 (vectorized ACROSS pairs, sequential
    across elements; separate multiply/add ufuncs, so no FMA
    contraction), norms identically; the raw double cosine then goes
    back to the JVM where the round(·, 4) and the threshold compare run
    with the exact same semantics as the join path. Pinned by
    test_emb_neardup_lsh_bcast_verify_parity.
    """
    spark = df.sparkSession
    ids_sorted, E, nrm = vectors
    bc = spark.sparkContext.broadcast((ids_sorted, E, nrm))

    def verify(batches):
        ids_s, Em, nr = bc.value
        for pdf in batches:
            ia = np.searchsorted(ids_s, pdf["id_a"].to_numpy())
            ib = np.searchsorted(ids_s, pdf["id_b"].to_numpy())
            prod = Em[ia] * Em[ib]
            acc = np.zeros(len(pdf))
            for j in range(prod.shape[1]):
                acc += prod[:, j]
            yield pd.DataFrame({
                "id_a": pdf["id_a"], "id_b": pdf["id_b"],
                "cos_raw": acc / (nr[ia] * nr[ib]),
            })

    return (
        cand.mapInPandas(verify, "id_a long, id_b long, cos_raw double")
        .withColumn("cosine", F.round(F.col("cos_raw"), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_pairs(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicates, brute-force (exact baseline; the LSH-bucketed
    scale path lives in operators/similarity.py). Dot products via
    zip_with/aggregate — JVM-side, no UDF."""
    withnorm = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.sqrt(F.expr(f"aggregate({vec_col}, CAST(0.0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")).alias("nrm"),
    )
    a, b = withnorm.alias("a"), withnorm.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.vid") < F.col("b.vid"))
        .withColumn(
            "cosine",
            F.round(
                F.expr("aggregate(zip_with(a.v, b.v, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (s, p) -> s + p)")
                / (F.col("a.nrm") * F.col("b.nrm")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"), "cosine")
    )


def passage_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    words_per_passage: int = 0, sep: str = "\n",
) -> DataFrame:
    """Passage-level exact dedup (the CCNet/C4 "line dedup" step):
    segment every document, keep only the globally FIRST occurrence of
    each distinct passage (first = lowest (doc_id, position)), and
    reassemble the surviving passages in document order.

    Segmentation: ``words_per_passage > 0`` cuts fixed word windows
    (for corpora without newline structure); otherwise split on
    ``sep`` (the CCNet newline convention).

    Returns (doc_id, clean_text, n_passages, n_kept) for EVERY input
    document — a fully boilerplate document survives with
    ``clean_text = ''`` and ``n_kept = 0`` so callers can decide the
    drop policy themselves.

    Scale shape: two shuffles total. (1) first-occurrence selection is
    a groupBy(passage).agg(min(struct(doc_id, pos))) — map-side
    combinable, one row per DISTINCT passage crosses the wire (a
    window over partitionBy(passage) would shuffle every occurrence
    and is skew-prone on hot boilerplate lines). (2) reassembly is a
    groupBy(doc_id) over the kept rows only. No UDFs, no window, no
    driver state.
    """
    # coalesce: a NULL text must survive as one empty passage (the
    # "EVERY input document" contract), not vanish via posexplode(NULL).
    # _ts materialized once per row (the lm.py device) — an inlined
    # split() inside the transform lambda re-evaluates per element.
    if words_per_passage > 0:
        w = words_per_passage
        seg_arr = F.expr(
            f"CASE WHEN size(_ts) = 0 THEN array() ELSE"
            f" transform(sequence(1, CAST(ceil(size(_ts) / {w}.0) AS INT)),"
            f" g -> concat_ws(' ', slice(_ts, (g - 1) * {w} + 1, {w}))) END"
        )
        base = _widen(df).select(
            F.col(id_col).alias("doc_id"),
            F.expr(f"split(lower(coalesce({text_col}, '')), '\\\\s+')")
             .alias("_ts"),
        )
    else:
        seg_arr = F.split(F.coalesce(F.col("_t"), F.lit("")), sep)
        base = _widen(df).select(F.col(id_col).alias("doc_id"),
                                 F.col(text_col).alias("_t"))
    segs = base.select("doc_id",
                       F.posexplode(seg_arr).alias("pos", "passage"))
    first = (
        segs.groupBy("passage")
        .agg(F.min(F.struct("doc_id", "pos")).alias("f"))
        .select("passage", F.col("f.doc_id").alias("doc_id"),
                F.col("f.pos").alias("pos"))
    )
    totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_passages"))
    kept = (
        first.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " " if words_per_passage > 0 else sep,
                F.expr("transform(array_sort(collect_list(struct(pos, passage))),"
                       " s -> s.passage)"),
            ).alias("clean_text"),
        )
    )
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_passages",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def repeated_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 5, min_count: int = 2,
) -> DataFrame:
    """Span-level exact-substring duplication (the Lee et al. 2021
    "Deduplicating Training Data" shape, at k-gram resolution): find,
    per document, the MAXIMAL token ranges every position of which
    starts a word k-gram that occurs at least ``min_count`` times in
    the whole corpus. Returns (doc_id, start_tok, end_tok, span_len)
    with token positions 0-based and ``end_tok`` exclusive — callers
    cut these spans out (finer-grained than passage_dedup's fixed
    windows, and catches cross-document boilerplate at any alignment).

    Plan: positional shingles (JVM transform + posexplode) → ONE
    combinable groupBy for global shingle counts → semi-join marks
    duplicated positions (only duplicated positions survive past this
    point) → runs via the pos − row_number device (one window over the
    SURVIVING positions, partitioned by doc) → groupBy(doc, run).
    """
    # _ts materialized once per row (the lm.py device) — an inlined
    # split() inside the transform lambda re-evaluates per element
    shingle_arr = F.expr(
        f"CASE WHEN size(_ts) < {k} THEN array()"
        f" ELSE transform(sequence(1, size(_ts) - {k - 1}),"
        f" i -> concat_ws(' ', slice(_ts, i, {k}))) END"
    )
    pos_sh = _widen(df).select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"split(lower({text_col}), '\\\\s+')").alias("_ts"),
    ).select("doc_id", F.posexplode(shingle_arr).alias("pos", "sh"))
    # both the global shingle counts and the position-marking semi-join
    # consume pos_sh — the barrier computes the scan+explode once
    # (localCheckpoint, not persist: no cross-query cache reuse)
    pos_sh = pos_sh.localCheckpoint(eager=True)
    dup = (pos_sh.groupBy("sh").agg(F.count("*").alias("c"))
           .filter(F.col("c") >= min_count).select("sh"))
    marked = pos_sh.join(dup, "sh", "left_semi").select("doc_id", "pos")
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = marked.withColumn(
        "_grp", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "_grp")
        .agg(F.min("pos").alias("start_tok"),
             (F.max("pos") + k).alias("end_tok"))
        .select("doc_id", "start_tok", "end_tok",
                (F.col("end_tok") - F.col("start_tok")).alias("span_len"))
    )
