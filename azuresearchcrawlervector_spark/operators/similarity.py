"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exact baseline; dot product via
  zip_with/aggregate (JVM-side) — a TakeOrderedAndProject plan, no UDF.
- LSH-bucketed ANN: random-hyperplane signatures (deterministic seed),
  probe the query's bucket ± multiprobe flips. The 10^10-row scale path:
  bucket id is a partition-prunable column — write_lsh_partitioned /
  ann_topk_lsh_partitioned demonstrate the file-level pruning
  (PartitionFilters in the scan).
- IVF-flat ANN: data-derived centroids, JVM-side argmax assignment,
  nprobe inverted-list probing; exact DuckDB oracle twin.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _dot_expr(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (s, p) -> s + p)")


def with_cosine_to(df: DataFrame, query_vec: list[float],
                   vec_col: str = "embedding") -> DataFrame:
    """df + cosine(vec_col, query_vec) — the query vector is inlined as an
    array literal so Catalyst constant-folds its norm."""
    qnorm = float(np.sqrt(np.dot(query_vec, query_vec)))
    qlit = "array(" + ",".join(f"CAST({float(x)} AS DOUBLE)" for x in query_vec) + ")"
    return df.withColumn(
        "cosine",
        F.round(
            F.expr(_dot_expr(vec_col, qlit))
            / (F.sqrt(F.expr(_dot_expr(vec_col, vec_col))) * F.lit(qnorm)),
            6,
        ),
    )


def topk_cosine(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by cosine; deterministic tie-break on id.
    Plan: scan → project(cosine) → TakeOrderedAndProject(k) — no shuffle
    of the full table, each partition contributes its local top-k."""
    return (
        with_cosine_to(df, query_vec, vec_col)
        .select(F.col(id_col), "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _bucket_expr(planes: np.ndarray, vec_col: str) -> str:
    """SQL expression computing the hyperplane-sign bucket id JVM-side —
    sum over planes of (dot>0) << p, each dot a constant-folded literal array."""
    terms = []
    for p, row in enumerate(planes):
        lit = "array(" + ",".join(f"CAST({float(x)} AS DOUBLE)" for x in row) + ")"
        terms.append(f"(CASE WHEN {_dot_expr(vec_col, lit)} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def with_lsh_bucket(df: DataFrame, planes: np.ndarray,
                    vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("bucket", F.expr(_bucket_expr(planes, vec_col)))


def write_lsh_partitioned(df: DataFrame, path: str, planes: np.ndarray,
                          vec_col: str = "embedding") -> None:
    """The 10^10-row layout: materialize the LSH bucket as a PARTITION
    column — a query's probe set then prunes at the FILE level (Spark
    skips non-probed bucket directories entirely; `.explain` shows the
    probe list under PartitionFilters)."""
    with_lsh_bucket(df, planes, vec_col).write.mode("overwrite") \
        .partitionBy("bucket").parquet(path)


def ann_topk_lsh_partitioned(
    spark, path: str, query_vec: list[float], k: int = 10,
    n_planes: int = 8, multiprobe: int = 2, seed: int = 42,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """ANN over a bucket-partitioned table (write_lsh_partitioned):
    identical results to ann_topk_lsh, but the bucket filter becomes a
    partition-pruning predicate instead of a row filter."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    qbucket = int(sum((1 << p) for p, row in enumerate(planes) if float(row @ q) > 0))
    probe = [b for b in range(1 << n_planes)
             if bin(b ^ qbucket).count("1") <= multiprobe]
    bucketed = spark.read.parquet(path).filter(F.col("bucket").isin(probe))
    return topk_cosine(bucketed, query_vec, k, vec_col, id_col)


# ------------------------------------------------------------------- IVF
def _ivf_centroids(df: DataFrame, n_centroids: int,
                   vec_col: str, id_col: str) -> list[tuple[int, list]]:
    """Deterministic data-derived centroids: the table's first
    ``n_centroids`` vectors by id, sorted (no training step, no
    external data). O(n_centroids) collect.

    This is the ORACLE-TWIN mode (bit-reproducible in ANSI SQL); it
    gives no inverted-list balance guarantee on skewed data — use
    train_ivf_centroids for the at-scale layout."""
    cents = (df.filter(F.col(id_col) < n_centroids)
             .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("ce"))
             .collect())
    return sorted((int(r["cid"]), list(r["ce"])) for r in cents)


def train_ivf_centroids(
    df: DataFrame, n_centroids: int = 16,
    vec_col: str = "embedding", id_col: str = "vec_id",
    sample_size: int = 4096, iters: int = 8, seed: int = 42,
    restarts: int = 3,
) -> list[tuple[int, list]]:
    """Deterministic sampled spherical k-means centroids — the at-scale
    IVF build: balanced inverted lists even when row order correlates
    with content (where positional first-n centroids degenerate to one
    hot list and probe cost approaches a scan).

    Scale shape: the only distributed step is the sample — the first
    ``sample_size`` rows ordered by xxhash64(id) (TakeOrdered: one O(n)
    scan with a per-partition heap, no full sort, collect is
    O(sample)). Training is driver-side numpy over the sample —
    O(sample × n_centroids × dim) per Lloyd iteration, microseconds at
    these sizes — with k-means++ init from a fixed-seed generator, so
    the same table always yields the same centroids.

    Spherical variant (unit-normalized points and centroids, max-dot
    assignment) because the engine's similarity is cosine. Empty
    clusters are reseeded from the point farthest from its centroid
    (deterministic). Returns the same (index, vector) shape
    with_ivf_assignment consumes.
    """
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("i")), F.col("i"))
        .limit(sample_size).collect()
    )
    X = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(nrm == 0, 1.0, nrm)
    n = len(X)
    k = min(n_centroids, n)
    # ``restarts`` deterministic k-means++ seeds; keep the run with the
    # best objective (total max-dot) — single-restart k-means++ quality
    # varies enough run-to-run to matter for list balance
    best, best_obj = None, -np.inf
    for r in range(max(1, restarts)):
        C = _spherical_kmeans(X, k, seed + r, iters)
        obj = float(np.max(X @ C.T, axis=1).sum())
        if obj > best_obj:
            best, best_obj = C, obj
    return [(j, [float(x) for x in best[j]]) for j in range(k)]


def _spherical_kmeans(X: np.ndarray, k: int, seed: int,
                      iters: int) -> np.ndarray:
    n = len(X)
    rng = np.random.default_rng(seed)

    # k-means++ init (cosine distance = 1 - dot on unit vectors)
    cents = np.empty((k, X.shape[1]))
    cents[0] = X[int(rng.integers(n))]
    d2 = np.maximum(1.0 - X @ cents[0], 0.0)
    for j in range(1, k):
        tot = d2.sum()
        if tot <= 0:
            cents[j] = X[int(rng.integers(n))]
        else:
            cents[j] = X[int(rng.choice(n, p=d2 / tot))]
        d2 = np.minimum(d2, np.maximum(1.0 - X @ cents[j], 0.0))

    for _ in range(iters):
        assign = np.argmax(X @ cents.T, axis=1)
        newc = np.zeros_like(cents)
        np.add.at(newc, assign, X)
        counts = np.bincount(assign, minlength=k)
        for j in np.flatnonzero(counts == 0):
            worst = int(np.argmax(1.0 - (X * cents[assign]).sum(axis=1)))
            newc[j] = X[worst]
            counts[j] = 1
        newc /= np.linalg.norm(newc, axis=1, keepdims=True)
        if np.allclose(newc, cents, atol=1e-12):
            cents = newc
            break
        cents = newc
    return cents


def with_ivf_assignment(df: DataFrame, cents: list[tuple[int, list]],
                        vec_col: str = "embedding") -> DataFrame:
    """df + ``ivf_cid`` = argmax-cosine centroid INDEX. The assignment
    is ``len(cents)`` constant-folded literal-array dot products + an
    argmax — pure JVM projection, NO crossJoin/shuffle/window. Ties
    break toward the lowest centroid index (cosines rounded to 6 before
    comparison, so the DuckDB twin is bit-reproducible)."""
    def cos_lit(vec_expr: str, c: list[float]) -> str:
        lit = "array(" + ",".join(f"CAST({float(x)} AS DOUBLE)" for x in c) + ")"
        cnorm = float(np.sqrt(np.dot(c, c)))
        return (f"round({_dot_expr(vec_expr, lit)}"
                f" / (sqrt({_dot_expr(vec_expr, vec_expr)}) * {cnorm!r}), 6)")

    arr = "array(" + ",".join(cos_lit(vec_col, c) for _cid, c in cents) + ")"
    # argmax with lowest-index tie-break = array_position of the max
    return df.withColumn(
        "ivf_cid",
        F.expr(f"array_position({arr}, array_max({arr})) - 1").cast("int"))


def _ivf_probe(cents: list[tuple[int, list]], query_vec: list[float],
               nprobe: int) -> list[int]:
    """Query's ``nprobe`` nearest centroid INDEXES (cents are sorted by
    id, so index i is the i-th smallest centroid id — the oracle twin
    reproduces this with row_number() over the same ordering)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt(q @ q))
    qcos = [(round(float(np.dot(q, c) / (np.sqrt(np.dot(c, c)) * qn)), 6), idx)
            for idx, (_cid, c) in enumerate(cents)]
    return [idx for _c, idx in sorted(qcos, key=lambda t: (-t[0], t[1]))[:nprobe]]


def ivf_topk(
    df: DataFrame, query_vec: list[float], k: int = 10,
    n_centroids: int = 16, nprobe: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
    centroids: str = "positional",
) -> DataFrame:
    """IVF-flat ANN: every row is assigned to its max-cosine centroid
    (with_ivf_assignment); the query probes its ``nprobe`` nearest
    centroids and brute-forces inside those inverted lists. At 10^10
    rows the assigned table is written partitioned by ``ivf_cid``
    (write_ivf_partitioned — assignment is the one-off build cost) and
    the probe prunes at the file level (ann_topk_ivf_partitioned).

    ``centroids``: "positional" (first-n ids — oracle-twin mode) or
    "trained" (train_ivf_centroids sampled k-means — balanced lists on
    skewed data)."""
    cents = _resolve_centroids(df, n_centroids, vec_col, id_col, centroids)
    assigned = with_ivf_assignment(df, cents, vec_col)
    probe = _ivf_probe(cents, query_vec, nprobe)
    cand = assigned.filter(F.col("ivf_cid").isin(probe))
    return topk_cosine(cand, query_vec, k, vec_col, id_col)


def _resolve_centroids(df: DataFrame, n_centroids: int, vec_col: str,
                       id_col: str, mode: str) -> list[tuple[int, list]]:
    if mode == "trained":
        return train_ivf_centroids(df, n_centroids, vec_col, id_col)
    return _ivf_centroids(df, n_centroids, vec_col, id_col)


def _centroids_sidecar(path: str) -> str:
    return path.rstrip("/") + "_centroids.json"


def write_ivf_partitioned(
    df: DataFrame, path: str, n_centroids: int = 16,
    vec_col: str = "embedding", id_col: str = "vec_id",
    centroids: str = "positional",
) -> None:
    """The 10^10-row IVF layout, mirror of write_lsh_partitioned:
    materialize the inverted-list id as a PARTITION column so a query's
    nprobe set prunes at the FILE level (non-probed list directories
    are never opened; `.explain` shows the probe list under
    PartitionFilters).

    ``centroids``: "positional" (oracle-twin mode, first-n ids) or
    "trained" (sampled k-means — the at-scale default for skewed data).
    The centroid vectors are persisted in a JSON sidecar next to the
    table so probes never re-derive them; the sidecar IS the index
    metadata (tiny: n_centroids × dim floats)."""
    import json

    cents = _resolve_centroids(df, n_centroids, vec_col, id_col, centroids)
    with_ivf_assignment(df, cents, vec_col).write.mode("overwrite") \
        .partitionBy("ivf_cid").parquet(path)
    with open(_centroids_sidecar(path), "w") as fh:
        json.dump({"mode": centroids, "centroids": cents}, fh)


def ann_topk_ivf_partitioned(
    spark, path: str, query_vec: list[float], k: int = 10,
    nprobe: int = 4, vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN over an ivf_cid-partitioned table (write_ivf_partitioned):
    identical results to ivf_topk, but the inverted-list filter becomes
    a partition-pruning predicate instead of a row filter. Centroids
    come from the build's JSON sidecar, so trained and positional
    builds probe identically."""
    import json

    with open(_centroids_sidecar(path)) as fh:
        cents = [(int(c), list(map(float, v)))
                 for c, v in json.load(fh)["centroids"]]
    probe = _ivf_probe(cents, query_vec, nprobe)
    cand = spark.read.parquet(path).filter(F.col("ivf_cid").isin(probe))
    return topk_cosine(cand, query_vec, k, vec_col, id_col)


def ann_topk_lsh(
    df: DataFrame, query_vec: list[float], k: int = 10,
    n_planes: int = 8, multiprobe: int = 2, seed: int = 42,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: restrict the exact scan to the query's LSH bucket plus
    all buckets within ``multiprobe`` sign flips, then brute-force inside.

    At scale the table is WRITTEN partitioned by bucket (partition pruning
    turns the probe set into a file-level skip); here the filter achieves
    the same row-pruning inside a scan.
    """
    planes = hyperplanes(len(query_vec), n_planes, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    qbucket = int(sum((1 << p) for p, row in enumerate(planes) if float(row @ q) > 0))
    probe = [b for b in range(1 << n_planes)
             if bin(b ^ qbucket).count("1") <= multiprobe]
    bucketed = with_lsh_bucket(df, planes, vec_col)
    return (
        topk_cosine(
            bucketed.filter(F.col("bucket").isin(probe)), query_vec, k, vec_col, id_col
        )
    )
