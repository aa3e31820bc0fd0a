"""Seeded benchmark inputs.

Everything the program receives is generated here from ``--seed``:

- the bench web: ``bench_pages_df`` (Zipf-sized host trees) with
  host names salted by the seed and a seeded ~5% of leaf pages turned
  into 404s. The web's shape (host sizes, tree, link positions) does not
  depend on the seed, so every seed does the same amount of work.
- the image payload: ``bench_images_df`` over the *unsalted* web, so it
  is the same for every seed and is built once per checkout and cached
  (PNG and baseline-JPEG encoding is the slow part of generation).
- the corpus tables (``documents``, ``embeddings``) for the declared
  queries, generated with numpy and written with pyarrow.
- the link graph for ``pagerank``/``hits``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

DEAD_PER_MILLE = 50  # ~5% of leaves answer 404


def salt_for(seed: int) -> str:
    return f"s{(seed * 2654435761) % (1 << 32):08x}"


def host_name(i: int, seed: int) -> str:
    return f"host{i}.{salt_for(seed)}.example.com"


def web_shape(n_urls: int, n_hosts: int) -> list[int]:
    """URL count per host (host i owns ``sizes[i]`` tree nodes 0..size-1)."""
    from azuresearchcrawlervector_spark.sources.synthetic import zipf_host_bounds
    return [int(x) for x in np.diff(zipf_host_bounds(n_urls, n_hosts))]


def page_url(host: str, j: int) -> str:
    return f"http://{host}/" if j == 0 else f"http://{host}/p{j}.html"


def children(j: int, size: int, fanout: int) -> list[int]:
    """Tree children of page ``j`` in a host of ``size`` pages, in link
    order (the layout ``bench_pages_df`` generates)."""
    lo = j * fanout + 1
    return list(range(lo, min(lo + fanout, size)))


def _dead_expr(seed: int):
    """Column predicate: a seeded ~5% of leaf pages are dead (404)."""
    from pyspark.sql import functions as F
    return ((F.size("links") == 0)
            & (F.pmod(F.xxhash64(F.col("url"), F.lit(seed)), F.lit(1000))
               < DEAD_PER_MILLE))


def _atomic_write(path: str, write) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def image_pool(spark, cache_dir: str, n_urls: int, n_hosts: int) -> str:
    """Raw (un-bucketed) image table for the unsalted web; cached."""
    from azuresearchcrawlervector_spark.sources.synthetic import (
        bench_images_df, bench_pages_df,
    )
    path = os.path.join(cache_dir, f"images_{n_urls}_{n_hosts}.parquet")
    if not os.path.exists(path):
        pages = bench_pages_df(spark, n_urls, n_hosts, with_html=False)
        _atomic_write(path, lambda p: bench_images_df(spark, pages)
                      .write.parquet(p))
    return path


def web_pages(spark, out: str, n_urls: int, n_hosts: int, fanout: int,
              seed: int) -> str:
    """Raw pages table of the seeded web: salted hosts, seeded 404s.
    ``image_id`` keeps the unsalted id so it matches the cached pool."""
    from pyspark.sql import functions as F
    from azuresearchcrawlervector_spark.sources.synthetic import bench_pages_df
    salt = salt_for(seed)
    pages = bench_pages_df(spark, n_urls, n_hosts, fanout=fanout)
    salted = (
        pages
        .withColumn("url", F.regexp_replace("url", r"\.bench\.example\.com",
                                            f".{salt}.example.com"))
        .withColumn("host", F.regexp_replace("host", r"\.bench\.example\.com",
                                             f".{salt}.example.com"))
    )
    dead = _dead_expr(seed)
    salted = (salted
              .withColumn("status", F.when(dead, F.lit(404)).otherwise(
                  F.col("status")).cast("int"))
              .withColumn("html", F.when(dead, F.lit(None)).otherwise(
                  F.col("html"))))
    salted.write.mode("overwrite").parquet(out)
    return out


# ----------------------------------------------------------------- corpus
_WORDS = ("batch part spark line column order small sort fast value scan "
          "hash slow group agg filter query big key window row table stream "
          "merge data vector index shard page crawl link token model score "
          "rank join plan cache disk node graph text image").split()
_STOP = {"en": "the and is with".split(), "de": "der die das und ist".split(),
         "fr": "le la les et est".split(), "es": "el los las es y".split(),
         "zh": []}
_LANGS = ("en", "de", "fr", "es", "zh")


def corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding float[64], label) with seeded
    near-duplicates, so the dedup/similarity operators find real pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(_WORDS) + 1)
    p /= p.sum()
    texts, langs = [], []
    for i in range(n_docs):
        lang = _LANGS[int(rng.integers(len(_LANGS)))]
        if i > 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: ~10% of words swapped
            words = texts[int(rng.integers(i))].split()
            for k in rng.integers(len(words), size=max(1, len(words) // 10)):
                words[int(k)] = _WORDS[int(rng.integers(len(_WORDS)))]
            lang = langs[-1] if langs else lang
        else:
            n = int(rng.integers(6, 40))
            words = [_WORDS[int(k)] for k in rng.choice(len(_WORDS), n, p=p)]
            stop = _STOP[lang]
            if stop:
                for k in rng.integers(n, size=n // 6):
                    words[int(k)] = stop[int(rng.integers(len(stop)))]
        texts.append(" ".join(words))
        langs.append(lang)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    dim, n_labels = 64, 8
    centers = rng.normal(0, 0.05, size=(n_labels, dim))
    labels = rng.integers(n_labels, size=n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.12, size=(n_vecs, dim))
    dup = np.nonzero(rng.random(n_vecs) < 0.1)[0]
    dup = dup[dup > 0]
    src = rng.integers(0, dup, size=len(dup)) if len(dup) else dup
    vecs[dup] = vecs[src] + rng.normal(0, 0.02, size=(len(dup), dim))
    labels[dup] = labels[src]
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def link_graph(seed: int, n_nodes: int, out_deg: int = 3) -> list[tuple[str, str]]:
    """Seeded web link graph: a host tree plus seeded cross links (so
    ranks are not trivially tree-shaped), a few dangling pages."""
    rng = np.random.default_rng(seed)
    host = host_name(0, seed)
    edges = []
    for j in range(n_nodes):
        for k in children(j, n_nodes, 4):
            edges.append((page_url(host, j), page_url(host, k)))
        if j % 10 != 9:  # every tenth page is dangling apart from its kids
            for d in rng.integers(n_nodes, size=out_deg):
                edges.append((page_url(host, j), page_url(host, int(d))))
    return edges
