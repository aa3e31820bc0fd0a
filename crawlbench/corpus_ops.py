"""The ``corpus_ops`` workload: 13 declared training-data and search
queries from ``__spark_entry__.queries()`` plus ``pagerank`` and
``hits``, each with its result collected. A pass runs the whole mix.
"""

from __future__ import annotations

import math
import os
import time

import duckdb

import fold
import inputs

QUERIES = (
    "dedup_ngram_jaccard", "minhash_lsh_dups", "emb_neardup_lsh",
    "hamming_pairs", "dedup_clusters_star", "ann_topk_lsh", "ann_topk_ivf",
    "pq_adc_topk", "lm_quality", "repeated_spans", "bm25_topk",
    "curation_v2", "cms_token_counts",
)

# sized so that the mix plus its DuckDB oracles fit one run (COVERAGE.md)
N_DOCS, N_VECS = 1000, 800
GRAPH_NODES = 400
# the declared queries use 20 iterations; per-iteration overhead makes
# that far too slow for one run, so the graph operators run 2
GRAPH_ITERS = 2
LOAD_REPS = 2


def operators(spark, data_dir: str, edges_df) -> dict:
    import __spark_entry__ as entry
    from azuresearchcrawlervector_spark.operators.graph import hits, pagerank
    qs = entry.queries()
    ops = {name: (lambda fn=qs[name]: fn(spark, data_dir)) for name in QUERIES}
    ops["pagerank"] = lambda: pagerank(edges_df, iters=GRAPH_ITERS)
    ops["hits"] = lambda: hits(edges_df, iters=GRAPH_ITERS)
    return ops


def setup(bench):
    bench.start()
    spark, seed = bench.spark, bench.args.seed
    data_dir = bench.path("corpus")
    os.makedirs(data_dir, exist_ok=True)
    inputs.corpus(data_dir, seed, N_DOCS, N_VECS)
    edges = inputs.link_graph(seed, GRAPH_NODES)
    loads = []
    for _ in range(LOAD_REPS):
        t0 = time.monotonic()
        for t in ("documents", "embeddings"):
            spark.read.parquet(f"{data_dir}/{t}.parquet").count()
        edges_df = spark.createDataFrame(edges, "src string, dst string")
        edges_df.count()
        loads.append(time.monotonic() - t0)
    bench.setup["ingest_s"] = fold.median(loads)
    setup_s = bench.setup["session_s"] + bench.setup["warm_s"] + fold.median(loads)
    return data_dir, edges, edges_df, setup_s


def run_pass(ops: dict, tracer: fold.Tracer | None = None) -> dict:
    times, rows = {}, {}
    t0 = time.time()
    for name, op in ops.items():
        t = time.monotonic()
        if tracer:
            with tracer.span(name):
                df = op()
                rows[name] = (df.columns, [tuple(r) for r in df.collect()])
        else:
            df = op()
            rows[name] = (df.columns, [tuple(r) for r in df.collect()])
        times[name] = time.monotonic() - t
    return {"pass_s": time.time() - t0, "times": times, "rows": rows}


def check(data_dir: str, edges, res: dict) -> list[tuple[str, bool]]:
    """Each query against its oracle_sql() twin in DuckDB, compared the
    way tools/verify_contract.py does; graph against the local twins."""
    import __spark_entry__ as entry
    from tools.verify_contract import normalize
    from azuresearchcrawlervector_spark.operators.graph import (
        hits_local, pagerank_local,
    )
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    oracles = entry.oracle_sql()
    out = []
    for name in QUERIES:
        cols, srows = res["rows"][name]
        cur = con.execute(oracles[name])
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        out.append((name, sorted(cols) == sorted(dcols)
                    and normalize(srows, cols) == normalize(drows, dcols)))
    con.close()

    def close(a, b):
        return math.isclose(a, b, rel_tol=1e-7, abs_tol=1e-12)

    pr = pagerank_local(edges, iters=GRAPH_ITERS)
    got = {r[0]: r[1] for r in res["rows"]["pagerank"][1]}
    out.append(("pagerank", got.keys() == pr.keys()
                and all(close(got[k], pr[k]) for k in pr)))
    hl = hits_local(edges, iters=GRAPH_ITERS)
    got = {r[0]: (r[1], r[2]) for r in res["rows"]["hits"][1]}
    out.append(("hits", got.keys() == hl.keys()
                and all(close(got[k][0], hl[k][0]) and close(got[k][1], hl[k][1])
                        for k in hl)))
    return out


def run(bench) -> dict:
    data_dir, edges, edges_df, setup_s = setup(bench)
    ops = operators(bench.spark, data_dir, edges_df)
    if bench.args.trace:
        import tracing
        return tracing.traced_corpus(bench, ops, run_pass,
                                     lambda r: check(data_dir, edges, r))
    runs, t_end = [], time.monotonic() + bench.args.seconds
    while not runs or time.monotonic() < t_end:
        runs.append(run_pass(ops))
    t0 = time.monotonic()
    checks = [c for r in runs for c in check(data_dir, edges, r)]
    bench.phases["checks_s"] = time.monotonic() - t0
    geo = [fold.geomean(list(r["times"].values())) for r in runs]
    metrics = {
        "setup_s": setup_s,
        "pass_s": fold.median([r["pass_s"] for r in runs]),
        "step_geomean_s": fold.median(geo),
    }
    report = {"suite_s": metrics["pass_s"], "query_geomean_s": fold.median(
        [fold.geomean([r["times"][q] for q in QUERIES]) for r in runs]),
        "peak_rss_mb": bench.peak_rss_mb(),
        "passes": len(runs), **bench.setup, **bench.phases}
    for name in runs[-1]["times"]:
        report[f"{name}_s"] = fold.median([r["times"][name] for r in runs])
    return {"attempted": len(checks), "failed": sum(not ok for _, ok in checks),
            "metrics": metrics, "report": report,
            "failures": [n for n, ok in checks if not ok]}
