"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end crawl (the north_rule
artifact): BFS frontier over the deterministic synthetic site +
image+caption tables (BASELINE.json input_hint: no external data,
synthesized at small scale), returning the ``documents`` table with
sha512 ids, extracted title/content, pseudo-embedding vectors and the
per-row image PSNR/caption invariants.

``queries()``/``oracle_sql()`` cover the engine's Spark primitives and
the training-data operator suite over /root/testdata (SURVEY.md §2 +
the dedup/similarity/text-analysis family), each with an ANSI-SQL twin
for the DuckDB oracle — including the flagship crawl (simulator-golden
VALUES), the md5-tokenized SimHash, the ANN-LSH/IVF paths, and the
bucketed near-dup join ``emb_neardup_lsh`` (multi-table seeded
hyperplanes inlined; the scale path whose plan has no crossJoin). The
only rows-only entry is MinHash-LSH, whose banded candidate set
depends on blake2b + Spark's internal hash().
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# --------------------------------------------------------------- flagship
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full BFS crawl (dedup → politeness → fetch-join →
    extract → embed → image-validate) on the 19-page fixture graph."""
    from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
    from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine
    from azuresearchcrawlervector_spark.sources.fixtures import test_website
    from azuresearchcrawlervector_spark.sources.synthetic import (
        images_df, pages_df, robots_df,
    )

    g = test_website()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    ckpt = tempfile.mkdtemp(prefix="crawl_entry_")
    engine = CrawlEngine(
        spark, pages_df(spark, g), cfg, ckpt,
        images=images_df(spark, g),
        robots=robots_df(spark, ["testsite1.example.com"]),
    )
    res = engine.run()
    return res.documents(spark).orderBy("seq")


# ---------------------------------------------------------------- queries
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from azuresearchcrawlervector_spark.functions.html import (
        clean_whitespace_col,
    )
    from azuresearchcrawlervector_spark.functions.text import (
        fingerprint_col, lang_id_col, quality_score_col,
        subword_count_col, token_count_col,
    )
    from azuresearchcrawlervector_spark.operators.dedup import (
        duplicate_clusters_star, embedding_neardup_lsh,
        exact_dedup, hamming_pairs,
        minhash_lsh_pairs, ngram_jaccard_pairs, simhash64,
    )
    from azuresearchcrawlervector_spark.operators.similarity import (
        ann_topk_lsh, ivf_topk, topk_cosine,
    )

    # -- engine primitives over the TPC-H-ish tables ---------------------
    def q_lineitem_agg(spark, sf):
        # A4/A1 shape: grouped aggregation with pushdown-able filter
        li = spark.read.parquet(_t(sf, "lineitem"))
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.count("*").alias("count_order"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    def q_top_orders(spark, sf):
        # J5 + A1 shape: join + deterministic global top-K
        o = spark.read.parquet(_t(sf, "orders"))
        c = spark.read.parquet(_t(sf, "customer"))
        li = spark.read.parquet(_t(sf, "lineitem"))
        return (
            li.groupBy("l_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "c_name", "revenue")
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
            .limit(10)
        )

    def q_region_revenue(spark, sf):
        # multi-join star agg (broadcast dims)
        r = spark.read.parquet(_t(sf, "region"))
        n = spark.read.parquet(_t(sf, "nation"))
        c = spark.read.parquet(_t(sf, "customer"))
        o = spark.read.parquet(_t(sf, "orders"))
        li = spark.read.parquet(_t(sf, "lineitem"))
        return (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .orderBy("r_name")
        )

    def q_anti_join(spark, sf):
        # J1-J3 shape: the seen-set anti-join (customers with no
        # high-value orders — the filter makes the result non-trivial)
        c = spark.read.parquet(_t(sf, "customer"))
        o = spark.read.parquet(_t(sf, "orders"))
        return (
            c.join(o.filter(F.col("o_totalprice") > 300000)
                    .select("o_custkey").distinct(),
                   F.col("c_custkey") == F.col("o_custkey"), "left_anti")
            .select("c_custkey", "c_name")
            .orderBy("c_custkey")
        )

    def q_budget_window(spark, sf):
        # P1 shape: per-key budget via row_number (first 3 events per user)
        from pyspark.sql import Window
        e = spark.read.parquet(_t(sf, "events"))
        w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
        return (
            e.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("user_id", "event_id", "rnk")
            .orderBy("user_id", "rnk")
        )

    def q_topk_priority(spark, sf):
        # A1 shape: deterministic global top-K on a priority
        o = spark.read.parquet(_t(sf, "orders"))
        return (
            o.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(20)
        )

    def q_sha_ids(spark, sf):
        # T5 shape: content-addressed ids (sha2-256; DuckDB lacks sha512)
        d = spark.read.parquet(_t(sf, "documents"))
        return d.select("doc_id", F.sha2(F.col("text"), 256).alias("content_id")).orderBy("doc_id")

    def q_whitespace_cleanup(spark, sf):
        # T2 whitespace-collapse semantics as built-ins
        d = spark.read.parquet(_t(sf, "documents"))
        cleaned = clean_whitespace_col(F.col("text"))
        return d.select("doc_id", F.length(cleaned).alias("clean_len"))

    def q_event_window_counts(spark, sf):
        # processing-time tumbling window analog (streaming §2.7 shape)
        e = spark.read.parquet(_t(sf, "events"))
        return (
            e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
            .orderBy("hour", "event_type")
        )

    def q_session_stats(spark, sf):
        # gap-based sessionization: one shuffle (the groupBy reuses the
        # Window's user partitioning)
        from azuresearchcrawlervector_spark.operators.sessions import (
            session_stats)
        e = spark.read.parquet(_t(sf, "events"))
        return (session_stats(e, gap_s=30_000)
                .orderBy("user_id", "session_seq"))

    def q_group_counts(spark, sf):
        # metrics-table shape: grouped counters
        d = spark.read.parquet(_t(sf, "documents"))
        return d.groupBy("lang", "source").agg(F.count("*").alias("n")).orderBy("lang", "source")

    def q_embedding_dims(spark, sf):
        em = spark.read.parquet(_t(sf, "embeddings"))
        return (
            em.groupBy(F.size("embedding").alias("dim"))
            .agg(F.count("*").alias("n"))
            .orderBy("dim")
        )

    # -- training-data ops ------------------------------------------------
    def q_dedup_exact(spark, sf):
        d = spark.read.parquet(_t(sf, "documents"))
        return exact_dedup(d).orderBy("content_hash")

    def q_dedup_ngram_jaccard(spark, sf):
        # max_df=100 prefix filter keeps the inverted-index self-join
        # linear-ish at scale (recall contract in the operator docstring);
        # the DuckDB oracle applies the IDENTICAL pruning.
        d = spark.read.parquet(_t(sf, "documents"))
        return (ngram_jaccard_pairs(d, k=3, threshold=0.2, max_df=100)
                .orderBy("id_a", "id_b"))

    def q_dedup_clusters(spark, sf):
        # duplicate CLUSTERING: connected components over the pruned
        # n-gram Jaccard pairs → (doc_id, cluster_id=min id in
        # component) — the canonical-keeper step after pair generation.
        # Large-star/small-star CC: O(log n) rounds on any graph. Served
        # under both declared names (dedup_clusters, dedup_clusters_star)
        d = spark.read.parquet(_t(sf, "documents"))
        pairs = ngram_jaccard_pairs(d, k=3, threshold=0.2, max_df=100)
        return duplicate_clusters_star(pairs).orderBy("doc_id")

    def q_token_counts(spark, sf):
        d = spark.read.parquet(_t(sf, "documents"))
        return d.select(
            "doc_id",
            token_count_col(F.col("text")).alias("n_tokens"),
            subword_count_col(F.col("text")).alias("n_subwords"),
        ).orderBy("doc_id")

    def q_quality(spark, sf):
        d = spark.read.parquet(_t(sf, "documents"))
        return d.select("doc_id", quality_score_col(F.col("text")).alias("quality")).orderBy("doc_id")

    def q_lang_id(spark, sf):
        d = spark.read.parquet(_t(sf, "documents"))
        return d.select("doc_id", lang_id_col(F.col("text")).alias("lang_pred")).orderBy("doc_id")

    def q_fingerprint(spark, sf):
        d = spark.read.parquet(_t(sf, "documents"))
        return d.select("doc_id", fingerprint_col(F.col("text")).alias("fp")).orderBy("doc_id")

    def q_emb_neardup(spark, sf):
        # within-label blocking keeps the pair count bounded; deterministic
        em = spark.read.parquet(_t(sf, "embeddings"))
        a = em.alias("a")
        b = em.alias("b")
        dot = ("aggregate(zip_with(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
               " CAST(0.0 AS DOUBLE), (s, p) -> s + p)")
        nrm = lambda s: (f"sqrt(aggregate({s}.embedding, CAST(0.0 AS DOUBLE),"
                         f" (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
        return (
            a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
            .withColumn("cosine", F.round(F.expr(dot) / (F.expr(nrm("a")) * F.expr(nrm("b"))), 4))
            .filter(F.col("cosine") >= 0.35)
            .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"), "cosine")
            .orderBy("id_a", "id_b")
        )

    def q_emb_neardup_lsh(spark, sf):
        # the SCALE near-dup path at the same 0.35 threshold: multi-
        # table hyperplane-LSH bucket join (equi-joins only, no
        # crossJoin); the exact q_emb_neardup stays as the small-scale
        # cross-check. Recall contract in the operator docstring.
        em = spark.read.parquet(_t(sf, "embeddings"))
        return (embedding_neardup_lsh(em, dim=64, threshold=0.35)
                .orderBy("id_a", "id_b"))

    def q_ann_topk(spark, sf):
        em = spark.read.parquet(_t(sf, "embeddings"))
        qvec = em.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return topk_cosine(em, [float(x) for x in qvec], k=10)

    def q_simhash(spark, sf):
        # md5_60 token hash — exactly reproducible in DuckDB (oracle
        # twin below); the xxhash64 fast path is exercised by simhash_pairs
        # in tests/bench.
        d = spark.read.parquet(_t(sf, "documents"))
        return simhash64(d, token_hash="md5_60").orderBy("doc_id")

    def q_hamming_pairs(spark, sf):
        # pigeonhole block-bucket candidate generation over a 64-bit
        # hash column (here: md5_60 simhash signatures; same operator
        # serves image phash near-dup on the crawl catalog) — the
        # oracle does the equivalent brute-force self-join
        d = spark.read.parquet(_t(sf, "documents"))
        # persist: both sides of the candidate self-join consume the
        # signatures (same reason simhash_pairs persists)
        sh = simhash64(d, token_hash="md5_60").persist()
        return (hamming_pairs(sh, "simhash", max_hamming=3)
                .orderBy("id_a", "id_b"))

    def q_ann_lsh(spark, sf):
        # seeded hyperplanes are deterministic literals — the oracle
        # inlines the same planes and probes hamming(bucket, qbucket) <= 2
        em = spark.read.parquet(_t(sf, "embeddings"))
        qvec = em.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return ann_topk_lsh(em, [float(x) for x in qvec], k=10)

    def q_ann_ivf(spark, sf):
        # IVF-flat: data-derived centroids (vec_id < 16), nprobe=4 —
        # assignment is pure JVM argmax over literal dots; the oracle
        # reproduces it with a rank over the same rounded cosines
        em = spark.read.parquet(_t(sf, "embeddings"))
        qvec = em.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        return ivf_topk(em, [float(x) for x in qvec], k=10)

    def q_ann_lsh_part(spark, sf):
        # the PARTITIONED layout variant: same defaults as q_ann_lsh
        # (seeded planes, k=10, multiprobe=2) but the table is written
        # bucket-partitioned first, so the probe set becomes a
        # file-level PartitionFilters predicate — results (and the
        # DuckDB oracle) identical to the in-scan filter variant
        import tempfile

        from azuresearchcrawlervector_spark.operators.similarity import (
            ann_topk_lsh_partitioned, hyperplanes, write_lsh_partitioned,
        )
        em = spark.read.parquet(_t(sf, "embeddings"))
        qvec = em.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        q = [float(x) for x in qvec]
        path = tempfile.mkdtemp(prefix="acs_lshpart_") + "/emb"
        write_lsh_partitioned(em, path, hyperplanes(len(q), 8))
        return ann_topk_lsh_partitioned(spark, path, q, k=10)

    def q_ann_ivf_part(spark, sf):
        # mirror for IVF: ivf_cid-partitioned write + pruning probe,
        # same centroids/nprobe as q_ann_ivf, same oracle
        import tempfile

        from azuresearchcrawlervector_spark.operators.similarity import (
            ann_topk_ivf_partitioned, write_ivf_partitioned,
        )
        em = spark.read.parquet(_t(sf, "embeddings"))
        qvec = em.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        q = [float(x) for x in qvec]
        path = tempfile.mkdtemp(prefix="acs_ivfpart_") + "/emb"
        write_ivf_partitioned(em, path, n_centroids=16)
        return ann_topk_ivf_partitioned(spark, path, q, k=10, nprobe=4)

    def q_crawl_flagship(spark, sf):
        return entry(spark).select("seq", "url", "depth", "id", "title")

    def q_curation(spark, sf):
        # the composed training-data flow: dedup keepers -> quality
        # gate -> language filter -> token stats, ONE declarative plan
        from azuresearchcrawlervector_spark.operators.curation import (
            curate_corpus)
        d = spark.read.parquet(_t(sf, "documents"))
        return (curate_corpus(d, min_quality=0.5, langs=("en",))
                .orderBy("doc_id"))

    def q_recrawl_delta(spark, sf):
        # incremental recrawl: classify urls vs the previous snapshot
        # by content fingerprint; "cur" is a deterministic mutation of
        # the documents table (drop %13, edit %7, add %11 with offset)
        from azuresearchcrawlervector_spark.operators.recrawl import (
            recrawl_delta)
        d = spark.read.parquet(_t(sf, "documents"))
        cur = (
            d.filter(F.col("doc_id") % 13 != 0)
            .withColumn("text", F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" edited")))
                .otherwise(F.col("text")))
            .unionByName(
                d.filter(F.col("doc_id") % 11 == 0)
                # offset must clear EVERY id in any bench scale-up: the
                # sf1 suite replicates ids at +k*10_000_000 (k<=9), so
                # 1e9 stays collision-free where 50M would alias
                # replica ids
                .withColumn("doc_id", F.col("doc_id") + 1_000_000_000))
        )
        return recrawl_delta(d, cur).orderBy("doc_id")

    def q_hits(spark, sf):
        # HITS hubs/authorities over the fixture link graph; oracle =
        # pure-python golden twin inlined as VALUES (pagerank pattern)
        from azuresearchcrawlervector_spark.operators.graph import hits
        from azuresearchcrawlervector_spark.sources.fixtures import (
            link_edges, test_website)
        df = spark.createDataFrame(link_edges(test_website()),
                                   "src string, dst string")
        return (hits(df, iters=20)
                .select("node", F.round("hub", 6).alias("hub"),
                        F.round("authority", 6).alias("authority"))
                .orderBy("node"))

    def q_pagerank(spark, sf):
        # PageRank over the flagship fixture's link graph (the crawl's
        # frontier-prioritization signal); oracle = pure-python golden
        # twin inlined as VALUES (same pattern as crawl_flagship)
        from azuresearchcrawlervector_spark.operators.graph import pagerank
        from azuresearchcrawlervector_spark.sources.fixtures import (
            link_edges, test_website)
        df = spark.createDataFrame(link_edges(test_website()),
                                   "src string, dst string")
        return (pagerank(df, iters=20)
                .select("node", F.round("rank", 6).alias("rank"))
                .orderBy("node"))

    def q_contamination(spark, sf):
        # benchmark-contamination report; the "benchmark" is carved
        # deterministically out of the corpus itself (doc_id % 29 == 0)
        # so no external data is needed and hits are guaranteed
        from azuresearchcrawlervector_spark.operators.contamination import (
            contamination_report)
        d = spark.read.parquet(_t(sf, "documents"))
        bench = (d.filter(F.col("doc_id") % 29 == 0)
                 .select(F.col("doc_id").alias("bench_id"), "text"))
        return contamination_report(d, bench, k=3).orderBy("doc_id")

    def q_mixture_sample(spark, sf):
        # deterministic md5-deviate stratified sample to a 50/25/25
        # en/de/fr mixture of ~200 rows; rates derived from the group
        # counts (O(#langs) collect), decision is a pure narrow filter
        from azuresearchcrawlervector_spark.operators.sampling import (
            mixture_sample)
        d = spark.read.parquet(_t(sf, "documents"))
        return (mixture_sample(d, {"en": 0.5, "de": 0.25, "fr": 0.25},
                               total=200, group_col="lang",
                               id_col="doc_id", salt="mix")
                .select("doc_id", "lang")
                .orderBy("doc_id"))

    def q_passage_dedup(spark, sf):
        # CCNet-style passage dedup over 8-word windows (the corpus has
        # no newline structure); globally-first occurrence wins
        from azuresearchcrawlervector_spark.operators.dedup import (
            passage_dedup)
        d = spark.read.parquet(_t(sf, "documents"))
        return (passage_dedup(d, words_per_passage=8)
                .orderBy("doc_id"))

    def q_pq_codes(spark, sf):
        # product-quantization encode, positional codebooks (the
        # SQL-derivable oracle-twin mode; trained k-means codebooks are
        # exercised by tests/bench). Fixed-point int math end to end.
        from azuresearchcrawlervector_spark.operators.pq import (
            pq_encode, pq_train)
        em = spark.read.parquet(_t(sf, "embeddings"))
        books = pq_train(em, m=8, k=16, mode="positional")
        return (pq_encode(em, books)
                .select("vec_id", F.array_join("codes", ",").alias("codes"))
                .orderBy("vec_id"))

    def q_pq_adc_topk(spark, sf):
        # asymmetric-distance top-10 over the PQ codes for the
        # embedding of vec_id=0 — exact int LUT, deterministic ties
        from azuresearchcrawlervector_spark.operators.pq import (
            pq_adc_topk, pq_encode, pq_train)
        em = spark.read.parquet(_t(sf, "embeddings"))
        books = pq_train(em, m=8, k=16, mode="positional")
        qvec = [float(x) for x in
                em.filter(F.col("vec_id") == 0).head()["embedding"]]
        return pq_adc_topk(pq_encode(em, books), books, qvec, topk=10)

    def q_lm_quality(spark, sf):
        # CCNet-style LM quality: self-trained add-alpha bigram model,
        # score = avg log10 P(w_i | w_{i-1}) per document
        from azuresearchcrawlervector_spark.operators.lm import lm_quality
        d = spark.read.parquet(_t(sf, "documents"))
        return lm_quality(d, alpha=0.5).orderBy("doc_id")

    def q_hll_distinct(spark, sf):
        # HLL distinct texts per lang (b=8): the md5-60 register
        # pipeline and the exact-int harmonic sum are reproduced in
        # ANSI SQL, so even the APPROXIMATE sketch hash-matches
        from azuresearchcrawlervector_spark.operators.hll import (
            hll_distinct)
        d = spark.read.parquet(_t(sf, "documents"))
        return hll_distinct(d, "text", ("lang",)).orderBy("lang")

    def q_repetition(spark, sf):
        # Gopher/MassiveText repetition signals — exact-count ratios
        from azuresearchcrawlervector_spark.operators.lm import (
            repetition_stats)
        d = spark.read.parquet(_t(sf, "documents"))
        return repetition_stats(d).orderBy("doc_id")

    def q_curation_v2(spark, sf):
        # the composed session-2 flow: decontaminate -> passage dedup
        # -> repetition gate -> mixture sample, one declarative plan
        from azuresearchcrawlervector_spark.operators.curation import (
            curate_corpus_v2)
        d = spark.read.parquet(_t(sf, "documents"))
        bench = (d.filter(F.col("doc_id") % 29 == 0)
                 .select(F.col("doc_id").alias("bench_id"), "text"))
        return curate_corpus_v2(d, bench).orderBy("doc_id")

    def q_tfidf_keywords(spark, sf):
        # top-5 tf-idf keywords per doc, (score DESC, token) stable
        from azuresearchcrawlervector_spark.operators.search import (
            tfidf_keywords)
        d = spark.read.parquet(_t(sf, "documents"))
        return tfidf_keywords(d, top_k=5).orderBy("doc_id")

    def q_cms_tokens(spark, sf):
        # Count-Min estimates for every distinct token — exact integer
        # counters, so the approximate sketch hash-matches its oracle
        from azuresearchcrawlervector_spark.operators.cms import (
            cms_heavy_hitters)
        d = spark.read.parquet(_t(sf, "documents"))
        toks = d.select(F.explode(F.expr(
            "filter(split(lower(text), '\\\\s+'), x -> x != '')"
        )).alias("tok"))
        return cms_heavy_hitters(toks, "tok", threshold=1).orderBy("value")

    def q_repeated_spans(spark, sf):
        # span-level exact-substring duplication (Lee et al. shape)
        from azuresearchcrawlervector_spark.operators.dedup import (
            repeated_spans)
        d = spark.read.parquet(_t(sf, "documents"))
        return repeated_spans(d, k=5).orderBy("doc_id", "start_tok")

    def q_anchor_texts(spark, sf):
        # anchor-text aggregation per link target over the fixture
        # site (golden-twin oracle, pagerank pattern)
        from azuresearchcrawlervector_spark.operators.anchors import (
            anchor_text_table)
        from azuresearchcrawlervector_spark.sources.fixtures import (
            test_website)
        from azuresearchcrawlervector_spark.sources.synthetic import (
            pages_df)
        pg = pages_df(spark, test_website()).select("url", "html")
        return anchor_text_table(pg).orderBy("target")

    def q_length_quantiles(spark, sf):
        # exact interpolated quantiles of doc length per lang: Spark's
        # percentile() and DuckDB's quantile_cont share the
        # rank = p*(n-1) continuous definition
        d = spark.read.parquet(_t(sf, "documents"))
        return (d.groupBy("lang").agg(
                    F.round(F.expr("percentile(n_chars, 0.25)"), 4)
                     .alias("p25"),
                    F.round(F.expr("percentile(n_chars, 0.5)"), 4)
                     .alias("p50"),
                    F.round(F.expr("percentile(n_chars, 0.75)"), 4)
                     .alias("p75"))
                .orderBy("lang"))

    def q_pack_sequences(spark, sf):
        # concat-and-chunk packing layout via distributed prefix sum.
        # seq_id/seq_off are cast to DOUBLE: the oracle's windowed
        # sum() is HUGEINT in DuckDB, so its `start // 512` reaches the
        # driver's comparator as float64 ("1953.0") while a BIGINT here
        # stringified as "1953" — the round-5 hash_match=false cell.
        # Values are integral either way (verified exact both sides at
        # sf0.01 and sf0.1); the cast only aligns the representation.
        from azuresearchcrawlervector_spark.operators.packing import (
            pack_sequences)
        d = spark.read.parquet(_t(sf, "documents"))
        return (pack_sequences(d, seq_len=512)
                .withColumn("seq_id", F.col("seq_id").cast("double"))
                .withColumn("seq_off", F.col("seq_off").cast("double"))
                .orderBy("doc_id"))

    def q_bm25(spark, sf):
        # Okapi BM25 top-10 for a 3-term query over the corpus — the
        # lexical-search complement to the ANN paths
        from azuresearchcrawlervector_spark.operators.search import (
            bm25_topk)
        d = spark.read.parquet(_t(sf, "documents"))
        return bm25_topk(d, "table window spark", k=10)

    def q_ann_ivfpq(spark, sf):
        # the composed 10^10-row serving path: IVF routing partitions
        # the table, PQ codes replace the raw vectors, ADC top-k scans
        # only the probed partitions (positional twin modes both sides)
        from azuresearchcrawlervector_spark.operators.pq import (
            ann_topk_ivfpq_partitioned, write_ivfpq_partitioned)
        em = spark.read.parquet(_t(sf, "embeddings"))
        qvec = [float(x) for x in
                em.filter(F.col("vec_id") == 0).head()["embedding"]]
        path = tempfile.mkdtemp(prefix="acs_ivfpq_") + "/emb"
        write_ivfpq_partitioned(em, path, n_centroids=16, m=8, k_codes=16)
        return ann_topk_ivfpq_partitioned(spark, path, qvec, k=10, nprobe=4)

    def q_minhash_lsh(spark, sf):
        # md5_60 hash mode — every step (md5 shingle hash, mod-2^61-1
        # permutations, md5 band buckets) reproducible in DuckDB; the
        # blake2b fast path is exercised by tests/bench.
        d = spark.read.parquet(_t(sf, "documents"))
        return (minhash_lsh_pairs(d, threshold=0.5, hash_mode="md5_60")
                .orderBy("id_a", "id_b"))

    return {
        "lineitem_agg": q_lineitem_agg,
        "top_orders": q_top_orders,
        "region_revenue": q_region_revenue,
        "anti_join_seen": q_anti_join,
        "budget_window": q_budget_window,
        "topk_priority": q_topk_priority,
        "sha_ids": q_sha_ids,
        "whitespace_cleanup": q_whitespace_cleanup,
        "event_window_counts": q_event_window_counts,
        "session_stats": q_session_stats,
        "pagerank": q_pagerank,
        "hits": q_hits,
        "curation": q_curation,
        "recrawl_delta": q_recrawl_delta,
        "group_counts": q_group_counts,
        "embedding_dims": q_embedding_dims,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters,
        "token_counts": q_token_counts,
        "quality_scores": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "emb_neardup": q_emb_neardup,
        "emb_neardup_lsh": q_emb_neardup_lsh,
        "ann_topk": q_ann_topk,
        "minhash_lsh_dups": q_minhash_lsh,
        "simhash64": q_simhash,
        "hamming_pairs": q_hamming_pairs,
        "ann_topk_lsh": q_ann_lsh,
        "ann_topk_ivf": q_ann_ivf,
        "ann_topk_lsh_partitioned": q_ann_lsh_part,
        "ann_topk_ivf_partitioned": q_ann_ivf_part,
        "crawl_flagship": q_crawl_flagship,
        "contamination": q_contamination,
        "mixture_sample": q_mixture_sample,
        "passage_dedup": q_passage_dedup,
        "pq_codes": q_pq_codes,
        "pq_adc_topk": q_pq_adc_topk,
        "ann_topk_ivfpq": q_ann_ivfpq,
        "lm_quality": q_lm_quality,
        "bm25_topk": q_bm25,
        "hll_distinct_lang": q_hll_distinct,
        "cms_token_counts": q_cms_tokens,
        "pack_sequences": q_pack_sequences,
        "repeated_spans": q_repeated_spans,
        "anchor_texts": q_anchor_texts,
        "length_quantiles": q_length_quantiles,
        "repetition_stats": q_repetition,
        "tfidf_keywords": q_tfidf_keywords,
        "curation_v2": q_curation_v2,
    }


# ----------------------------------------------------------------- oracles
def _ann_lsh_oracle_sql(dim: int = 64, n_planes: int = 8, multiprobe: int = 2,
                        k: int = 10) -> str:
    """ANN-LSH oracle: the hyperplanes are seed-42 literals, so the twin
    inlines the same planes, computes each row's sign bucket, restricts
    to hamming(bucket, qbucket) <= multiprobe, and brute-forces inside —
    exactly the Spark plan's semantics."""
    from azuresearchcrawlervector_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes)

    def dot(vec_expr: str, row) -> str:
        lit = "[" + ",".join(repr(float(x)) for x in row) + "]"
        return (f"list_sum(list_transform(list_zip({vec_expr}, {lit}),"
                " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")

    bucket = " + ".join(
        f"(CASE WHEN {dot('embedding', row)} > 0 THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(planes))
    return f"""
        WITH b AS (
          SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
          FROM embeddings),
        q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0)
        SELECT vec_id,
               round(list_sum(list_transform(list_zip(embedding, qe),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
               AS cosine
        FROM b, q
        WHERE bit_count(xor(bucket, qb)) <= {multiprobe}
        ORDER BY cosine DESC, vec_id ASC LIMIT {k}
    """


def _ann_ivf_oracle_sql(n_centroids: int = 16, nprobe: int = 4,
                        k: int = 10) -> str:
    """IVF twin: centroids = first n_centroids vec_ids; assignment =
    rank-1 centroid by (rounded cosine DESC, centroid index ASC) —
    exactly the Spark side's argmax-with-lowest-index tie-break."""
    def dot(a: str, b: str) -> str:
        return (f"list_sum(list_transform(list_zip({a}, {b}),"
                " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")

    def cos(a: str, b: str) -> str:
        return (f"round({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)")

    return f"""
        WITH cents AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
                 embedding AS ce
          FROM embeddings WHERE vec_id < {n_centroids}),
        ac AS (
          SELECT e.vec_id, e.embedding, c.cidx,
                 {cos('e.embedding', 'c.ce')} AS ccos
          FROM embeddings e CROSS JOIN cents c),
        assign AS (
          SELECT vec_id, embedding, cidx FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY ccos DESC, cidx ASC) AS rn
            FROM ac) WHERE rn = 1),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        qprobe AS (
          SELECT c.cidx FROM cents c, q
          ORDER BY {cos('q.qe', 'c.ce')} DESC, c.cidx ASC LIMIT {nprobe})
        SELECT a.vec_id, {cos('a.embedding', 'q.qe')} AS cosine
        FROM assign a, q
        WHERE a.cidx IN (SELECT cidx FROM qprobe)
        ORDER BY cosine DESC, a.vec_id ASC LIMIT {k}
    """


def _ann_ivfpq_oracle_sql(n_centroids: int = 16, nprobe: int = 4,
                          k: int = 10) -> str:
    """IVF-PQ twin: the IVF routing/probe CTEs (identical to
    _ann_ivf_oracle_sql) composed with the PQ fixed-point codes + ADC
    LUT CTEs (identical to the pq_codes/pq_adc_topk oracles) — exact
    integer distances inside the probed inverted lists."""
    def dot(a: str, b: str) -> str:
        return (f"list_sum(list_transform(list_zip({a}, {b}),"
                " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")

    def cos(a: str, b: str) -> str:
        return (f"round({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)")

    return f"""
        WITH cents AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
                 embedding AS ce
          FROM embeddings WHERE vec_id < {n_centroids}),
        ac AS (
          SELECT e.vec_id, c.cidx, {cos('e.embedding', 'c.ce')} AS ccos
          FROM embeddings e CROSS JOIN cents c),
        assign AS (
          SELECT vec_id, cidx FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY ccos DESC, cidx ASC) AS rn
            FROM ac) WHERE rn = 1),
        qe AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
        qprobe AS (
          SELECT c.cidx FROM cents c, qe
          ORDER BY {cos('qe.qemb', 'c.ce')} DESC, c.cidx ASC LIMIT {nprobe}),
        iv AS (
          SELECT vec_id, list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings),
        base AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
          FROM iv ORDER BY vec_id LIMIT 16),
        cb AS (
          SELECT ss.s, base.c, base.v[ss.s*8+1:ss.s*8+8] AS cent
          FROM base, (SELECT unnest(generate_series(0, 7)) AS s) ss),
        d AS (
          SELECT iv.vec_id, cb.s, cb.c,
                 list_sum(list_transform([1,2,3,4,5,6,7,8],
                   j -> (iv.v[cb.s*8+j] - cb.cent[j])
                      * (iv.v[cb.s*8+j] - cb.cent[j]))) AS dist
          FROM iv, cb),
        codes AS (
          SELECT vec_id, s, c FROM (
            SELECT vec_id, s, c,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dist, c) AS rn
            FROM d) WHERE rn = 1),
        q AS (SELECT v AS qv FROM iv WHERE vec_id = 0),
        lut AS (
          SELECT cb.s, cb.c,
                 list_sum(list_transform([1,2,3,4,5,6,7,8],
                   j -> (q.qv[cb.s*8+j] - cb.cent[j])
                      * (q.qv[cb.s*8+j] - cb.cent[j]))) AS ld
          FROM cb, q),
        adc AS (
          SELECT codes.vec_id, CAST(sum(lut.ld) AS BIGINT) AS adc_dist
          FROM codes JOIN lut ON codes.s = lut.s AND codes.c = lut.c
          GROUP BY 1)
        SELECT a.vec_id, adc.adc_dist
        FROM assign a JOIN adc ON a.vec_id = adc.vec_id
        WHERE a.cidx IN (SELECT cidx FROM qprobe)
        ORDER BY adc.adc_dist, a.vec_id LIMIT {k}
    """


def _emb_neardup_lsh_oracle_sql(dim: int = 64, n_tables: int = 8,
                                planes_per_table: int = 4,
                                threshold: float = 0.35,
                                seed: int = 42) -> str:
    """Twin of embedding_neardup_lsh: the hyperplanes are seed-fixed
    literals, so the oracle inlines each table's sign bucket, joins on
    (table, bucket), dedups pairs, and verifies with the exact cosine —
    the identical candidate set and verify as the Spark plan."""
    from azuresearchcrawlervector_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_tables * planes_per_table, seed)

    def dot(vec_expr: str, row) -> str:
        lit = "[" + ",".join(repr(float(x)) for x in row) + "]"
        return (f"list_sum(list_transform(list_zip({vec_expr}, {lit}),"
                " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")

    selects = []
    for t in range(n_tables):
        sub = planes[t * planes_per_table:(t + 1) * planes_per_table]
        bucket = " + ".join(
            f"(CASE WHEN {dot('embedding', row)} > 0 THEN {1 << p} ELSE 0 END)"
            for p, row in enumerate(sub))
        selects.append(f"SELECT vec_id, {t} AS tbl,"
                       f" CAST({bucket} AS BIGINT) AS bucket FROM embeddings")
    union = " UNION ALL ".join(selects)
    pair_dot = ("list_sum(list_transform(list_zip(ea.embedding, eb.embedding),"
                " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")
    nrm = lambda s: (f"sqrt(list_sum(list_transform({s}.embedding,"
                     f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")
    return f"""
        WITH b AS ({union}),
        cand AS (
          SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
          FROM b x JOIN b y
            ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
        SELECT id_a, id_b, cosine FROM (
          SELECT id_a, id_b,
                 round({pair_dot} / ({nrm('ea')} * {nrm('eb')}), 4) AS cosine
          FROM cand
          JOIN embeddings ea ON ea.vec_id = id_a
          JOIN embeddings eb ON eb.vec_id = id_b)
        WHERE cosine >= {threshold}
        ORDER BY id_a, id_b
    """


def _crawl_flagship_oracle_sql() -> str:
    """Golden-values oracle for the flagship crawl: the engine is pinned
    to the pure-Python simulator (exact visit order / seen set / content,
    tests/test_crawl.py), and the simulator is cheap — so the oracle is
    the simulator's own output inlined as VALUES. The driver then
    hash-checks the crawl itself against an independent implementation."""
    import hashlib

    from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode
    from azuresearchcrawlervector_spark.simulator import simulate
    from azuresearchcrawlervector_spark.sources.fixtures import test_website

    g = test_website()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD)
    res = simulate(g, cfg)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ", ".join(
        f"({d['seq']}, {q(d['url'])}, {d['depth']},"
        f" {q(hashlib.sha512(d['url'].encode()).hexdigest())}, {q(d['title'])})"
        for d in res.documents)
    return f"""
        SELECT CAST(seq AS INT) AS seq, url, CAST(depth AS INT) AS depth,
               id, title
        FROM (VALUES {rows}) AS t(seq, url, depth, id, title)
        ORDER BY seq
    """


def _pagerank_oracle_sql() -> str:
    """Golden-values oracle for pagerank over the fixture link graph:
    the pure-python twin (operators/graph.py::pagerank_local, same
    distinct-edge/self-loop/dangling semantics) inlined as VALUES,
    both sides rounded to 6 dp — double-precision disagreement between
    the two summation orders is ~1e-15, far below the rounding grain."""
    from azuresearchcrawlervector_spark.operators.graph import pagerank_local
    from azuresearchcrawlervector_spark.sources.fixtures import (
        link_edges, test_website)

    ranks = pagerank_local(link_edges(test_website()), iters=20)
    rows = ", ".join(
        f"('{node}', {round(r, 6):.6f})"
        for node, r in sorted(ranks.items()))
    return f"""
        SELECT node, CAST(rank AS DOUBLE) AS rank
        FROM (VALUES {rows}) AS t(node, rank)
        ORDER BY node
    """


def _hits_oracle_sql() -> str:
    """Golden-values oracle for HITS over the fixture link graph —
    same device as the pagerank twin (hits_local inlined as VALUES,
    both sides rounded to 6 dp)."""
    from azuresearchcrawlervector_spark.operators.graph import hits_local
    from azuresearchcrawlervector_spark.sources.fixtures import (
        link_edges, test_website)

    hv = hits_local(link_edges(test_website()), iters=20)
    rows = ", ".join(
        f"('{node}', {round(h, 6):.6f}, {round(a, 6):.6f})"
        for node, (h, a) in sorted(hv.items()))
    return f"""
        SELECT node, CAST(hub AS DOUBLE) AS hub,
               CAST(authority AS DOUBLE) AS authority
        FROM (VALUES {rows}) AS t(node, hub, authority)
        ORDER BY node
    """


def _anchors_oracle_sql() -> str:
    """Golden-values oracle for anchor_text_table over the fixture
    pages (pages tables are not registered driver-side, so the
    pure-python twin — same parser, canonicalization, aggregation —
    is inlined as VALUES; the pagerank device)."""
    from azuresearchcrawlervector_spark.operators.anchors import (
        anchor_text_local)
    from azuresearchcrawlervector_spark.sources.fixtures import test_website
    from azuresearchcrawlervector_spark.sources.synthetic import pages_rows

    pages = [(r[0], r[3]) for r in pages_rows(test_website())]
    want = anchor_text_local(pages)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ", ".join(
        f"({q(t)}, {n}, {ns}, {q(a)})"
        for t, (n, ns, a) in sorted(want.items()))
    return f"""
        SELECT target, CAST(n_refs AS BIGINT) AS n_refs,
               CAST(n_sources AS BIGINT) AS n_sources, anchors
        FROM (VALUES {rows}) AS t(target, n_refs, n_sources, anchors)
        ORDER BY target
    """


def _minhash_lsh_oracle_sql(n_hashes: int = 64, bands: int = 16,
                            threshold: float = 0.5) -> str:
    """DuckDB twin of minhash_lsh_pairs(hash_mode="md5_60"): md5-60
    shingle hash, the SAME seeded (a, b) permutation constants inlined
    as VALUES, exact (a*h+b) mod 2^61-1 in HUGEINT, md5 band buckets
    over the comma-joined signature longs, and the sig-agreement
    estimate filter. Every est_jaccard value is m/64 — at most 6
    decimal digits, so round(,6) is exact on both engines."""
    from azuresearchcrawlervector_spark.operators.dedup import _minhash_params

    a, b = _minhash_params(n_hashes)
    params = ", ".join(
        f"({i}, {int(a[i])}, {int(b[i])})" for i in range(n_hashes))
    rpb = n_hashes // bands
    return rf"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, array_to_string(ts[i.g:i.g+2], ' ') AS shingle
          FROM toks, (SELECT unnest(generate_series(1, 10000)) AS g) i
          WHERE i.g <= len(ts) - 2
          UNION
          SELECT DISTINCT doc_id, array_to_string(ts, ' ')
          FROM toks WHERE len(ts) BETWEEN 1 AND 2),
        hashed AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h
          FROM sh),
        params(i, a, b) AS (VALUES {params}),
        mins AS (
          SELECT doc_id, p.i,
                 min(CAST((CAST(p.a AS HUGEINT) * h + p.b)
                          % 2305843009213693951 AS BIGINT)) AS mv
          FROM hashed, params p GROUP BY 1, 2),
        bands AS (
          SELECT doc_id, i // {rpb} AS band,
                 md5(string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i)) AS bh
          FROM mins GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        est AS (
          SELECT c.id_a, c.id_b,
                 round(sum(CASE WHEN ma.mv = mb.mv THEN 1 ELSE 0 END)
                       / {float(n_hashes)}, 6) AS est_jaccard
          FROM cand c
          JOIN mins ma ON ma.doc_id = c.id_a
          JOIN mins mb ON mb.doc_id = c.id_b AND mb.i = ma.i
          GROUP BY 1, 2)
        SELECT id_a, id_b, est_jaccard FROM est
        WHERE est_jaccard >= {threshold} ORDER BY id_a, id_b
    """


def _oracle_sql_base() -> dict[str, str]:
    dot_ab = ("list_sum(list_transform(list_zip(a.embedding, b.embedding),"
              " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")
    nrm = lambda s: (f"sqrt(list_sum(list_transform({s}.embedding,"
                     f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")
    stop_pat = r"\b(the|a|and|of|to|in|is|it)\b"
    markers = {
        "en": r"\b(the|and|is|with)\b",
        "de": r"\b(der|die|das|und|ist)\b",
        "fr": r"\b(le|la|les|et|est)\b",
        "es": r"\b(el|los|las|es|y)\b",
    }
    lang_counts = {k: f"len(regexp_extract_all(lower(text), '{v}'))" for k, v in markers.items()}
    lang_best = f"greatest({lang_counts['en']}, {lang_counts['de']}, {lang_counts['fr']}, {lang_counts['es']})"

    return {
        "lineitem_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_orders": """
            SELECT o_orderkey, c_name, revenue FROM (
              SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem GROUP BY l_orderkey) r
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "region_revenue": """
            SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "anti_join_seen": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN
              (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
            ORDER BY c_custkey
        """,
        "budget_window": """
            SELECT user_id, event_id, rnk FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rnk
              FROM events) t
            WHERE rnk <= 3 ORDER BY user_id, rnk
        """,
        "topk_priority": """
            SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
            FROM orders ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC LIMIT 20
        """,
        "sha_ids": """
            SELECT doc_id, sha256(text) AS content_id FROM documents ORDER BY doc_id
        """,
        "whitespace_cleanup": r"""
            SELECT doc_id,
                   length(trim(regexp_replace(regexp_replace(text, '[\r\n]+', ' ', 'g'),
                                              '[ \t]+', ' ', 'g'))) AS clean_len
            FROM documents
        """,
        "event_window_counts": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "session_stats": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                             > 30000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, ts, value,
                     CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
              FROM flagged)
            SELECT user_id, session_seq,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM sess GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "group_counts": """
            SELECT lang, source, count(*) AS n FROM documents
            GROUP BY lang, source ORDER BY lang, source
        """,
        "embedding_dims": """
            SELECT len(embedding) AS dim, count(*) AS n FROM embeddings
            GROUP BY 1 ORDER BY 1
        """,
        "dedup_exact": """
            SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "dedup_ngram_jaccard": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents),
            sh0 AS (
              SELECT DISTINCT doc_id,
                     array_to_string(ts[i.g:i.g+2], ' ') AS shingle
              FROM toks, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= len(ts) - 2),
            -- max_df=100 prefix filter, identical to the Spark query
            sh AS (
              SELECT sh0.* FROM sh0
              WHERE shingle NOT IN (
                SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 100)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b, jaccard FROM (
              SELECT id_a, id_b,
                     round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b)
            WHERE jaccard >= 0.2
            ORDER BY id_a, id_b
        """,
        # duplicate clustering: the SAME pruned pair set as
        # dedup_ngram_jaccard, then undirected transitive closure via
        # WITH RECURSIVE and min-reachable-id per node — exactly the
        # Spark operator's min-label fixpoint semantics
        "dedup_clusters": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents),
            sh0 AS (
              SELECT DISTINCT doc_id,
                     array_to_string(ts[i.g:i.g+2], ' ') AS shingle
              FROM toks, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= len(ts) - 2),
            sh AS (
              SELECT sh0.* FROM sh0
              WHERE shingle NOT IN (
                SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 100)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pr AS (
              SELECT id_a, id_b FROM (
                SELECT id_a, id_b,
                       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b)
              WHERE jaccard >= 0.2),
            und AS (
              SELECT id_a AS u, id_b AS v FROM pr
              UNION SELECT id_b, id_a FROM pr),
            reach(u, v) AS (
              SELECT u, v FROM und
              UNION
              SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u)
            SELECT u AS doc_id, least(u, min(v)) AS cluster_id
            FROM reach GROUP BY u ORDER BY doc_id
        """,
        "simhash64": r"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            hashed AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
              FROM toks WHERE tok <> ''),
            bits AS (
              SELECT doc_id, i.g AS bit,
                     CASE WHEN (h >> i.g) & 1 = 1 THEN 1 ELSE -1 END AS sign
              FROM hashed, (SELECT unnest(generate_series(0, 59)) AS g) i),
            agg AS (SELECT doc_id, bit, sum(sign) AS s FROM bits GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM agg GROUP BY doc_id ORDER BY doc_id
        """,
        "hamming_pairs": r"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            hashed AS (
              SELECT doc_id,
                     CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
              FROM toks WHERE tok <> ''),
            bits AS (
              SELECT doc_id, i.g AS bit,
                     CASE WHEN (h >> i.g) & 1 = 1 THEN 1 ELSE -1 END AS sign
              FROM hashed, (SELECT unnest(generate_series(0, 59)) AS g) i),
            agg AS (SELECT doc_id, bit, sum(sign) AS s FROM bits GROUP BY 1, 2),
            sh AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
                                   ELSE 0 END) AS BIGINT) AS simhash
              FROM agg GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ORDER BY id_a, id_b
        """,
        "token_counts": r"""
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subwords
            FROM documents ORDER BY doc_id
        """,
        "quality_scores": f"""
            SELECT doc_id, round((
              least(length(text) / 500.0, 1.0)
              + CASE WHEN stop_ratio > 0.6 THEN 0.2 WHEN stop_ratio > 0.02 THEN 1.0 ELSE 0.4 END
              + CASE WHEN punct_ratio > 0.2 THEN 0.3 ELSE 1.0 END) / 3.0, 6) AS quality
            FROM (
              SELECT doc_id, text,
                round(len(regexp_extract_all(lower(text), '{stop_pat}'))
                  / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stop_ratio,
                round(len(regexp_extract_all(text, '[^\\w\\s]'))
                  / greatest(length(text), 1), 6) AS punct_ratio
              FROM documents) ORDER BY doc_id
        """,
        "lang_id": f"""
            SELECT doc_id,
              CASE WHEN {lang_best} = 0 THEN 'und'
                   WHEN {lang_counts['en']} = {lang_best} THEN 'en'
                   WHEN {lang_counts['de']} = {lang_best} THEN 'de'
                   WHEN {lang_counts['fr']} = {lang_best} THEN 'fr'
                   WHEN {lang_counts['es']} = {lang_best} THEN 'es'
              END AS lang_pred
            FROM documents ORDER BY doc_id
        """,
        "fingerprint": """
            SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp
            FROM documents ORDER BY doc_id
        """,
        "recrawl_delta": """
            WITH cur AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' edited'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 13 <> 0
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id, text
              FROM documents WHERE doc_id % 11 = 0),
            pf AS (
              SELECT doc_id,
                     md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp
              FROM documents),
            cf AS (
              SELECT doc_id,
                     md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp
              FROM cur)
            SELECT doc_id,
                   CASE WHEN p.fp IS NULL THEN 'new'
                        WHEN c.fp IS NULL THEN 'gone'
                        WHEN p.fp = c.fp THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM pf p FULL OUTER JOIN cf c USING (doc_id)
            ORDER BY doc_id
        """,
        "curation": f"""
            WITH keepers AS (
              SELECT min(doc_id) AS doc_id FROM documents
              GROUP BY sha256(text)),
            ratios AS (
              SELECT doc_id, text,
                round(len(regexp_extract_all(lower(text), '{stop_pat}'))
                  / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stop_ratio,
                round(len(regexp_extract_all(text, '[^\\w\\s]'))
                  / greatest(length(text), 1), 6) AS punct_ratio
              FROM documents
              WHERE doc_id IN (SELECT doc_id FROM keepers)),
            scored AS (
              SELECT doc_id,
                CASE WHEN {lang_best} = 0 THEN 'und'
                     WHEN {lang_counts['en']} = {lang_best} THEN 'en'
                     WHEN {lang_counts['de']} = {lang_best} THEN 'de'
                     WHEN {lang_counts['fr']} = {lang_best} THEN 'fr'
                     WHEN {lang_counts['es']} = {lang_best} THEN 'es'
                END AS lang_pred,
                round((
                  least(length(text) / 500.0, 1.0)
                  + CASE WHEN stop_ratio > 0.6 THEN 0.2
                         WHEN stop_ratio > 0.02 THEN 1.0 ELSE 0.4 END
                  + CASE WHEN punct_ratio > 0.2 THEN 0.3 ELSE 1.0 END
                  ) / 3.0, 6) AS quality,
                len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subwords
              FROM ratios)
            SELECT doc_id, lang_pred, quality, n_tokens, n_subwords
            FROM scored
            WHERE quality >= 0.5 AND lang_pred = 'en'
            ORDER BY doc_id
        """,
        "emb_neardup": f"""
            SELECT id_a, id_b, cosine FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round({dot_ab} / ({nrm('a')} * {nrm('b')}), 4) AS cosine
              FROM embeddings a JOIN embeddings b
                ON a.label = b.label AND a.vec_id < b.vec_id)
            WHERE cosine >= 0.35 ORDER BY id_a, id_b
        """,
        "ann_topk": f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_sum(list_transform(list_zip(embedding, qe),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                   AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "emb_neardup_lsh": _emb_neardup_lsh_oracle_sql(),
        "ann_topk_lsh": _ann_lsh_oracle_sql(),
        "ann_topk_ivf": _ann_ivf_oracle_sql(),
        "ann_topk_ivfpq": _ann_ivfpq_oracle_sql(),
        "crawl_flagship": _crawl_flagship_oracle_sql(),
        "minhash_lsh_dups": _minhash_lsh_oracle_sql(),
        "pagerank": _pagerank_oracle_sql(),
        "hits": _hits_oracle_sql(),
        "anchor_texts": _anchors_oracle_sql(),
        # benchmark-contamination: same shingle CTE as the dedup
        # oracles; the benchmark is the doc_id % 29 == 0 slice
        "contamination": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(ts[i.g:i.g+2], ' ') AS shingle
              FROM toks, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= len(ts) - 2),
            bsh AS (
              SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0)
            SELECT s.doc_id,
                   count(*) AS n_shingles,
                   CAST(count(b.shingle) AS BIGINT) AS n_hit,
                   round(CAST(count(b.shingle) AS DOUBLE) / count(*), 6)
                     AS contam
            FROM sh s LEFT JOIN bsh b ON s.shingle = b.shingle
            GROUP BY s.doc_id ORDER BY s.doc_id
        """,
        # deterministic md5-60 deviate stratified sample; rates derived
        # from group counts exactly as operators/sampling.mixture_rates
        "mixture_sample": """
            WITH counts AS (
              SELECT lang, count(*) AS n FROM documents GROUP BY 1),
            rates AS (
              SELECT lang,
                     least(CAST(1.0 AS DOUBLE),
                           200 * CASE lang WHEN 'en' THEN 0.5
                                           WHEN 'de' THEN 0.25
                                           WHEN 'fr' THEN 0.25 END / n)
                       AS rate
              FROM counts WHERE lang IN ('en', 'de', 'fr'))
            SELECT d.doc_id, d.lang
            FROM documents d JOIN rates r ON d.lang = r.lang
            WHERE CAST(concat('0x', substr(md5(concat('mix:',
                    CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                  / 1152921504606846976.0 < r.rate
            ORDER BY d.doc_id
        """,
        # product quantization, positional codebooks: the centroids are
        # DERIVED IN SQL (subvectors of the 16 lowest-id rows), so the
        # whole encode is data-driven fixed-point int math both sides
        "pq_codes": """
            WITH iv AS (
              SELECT vec_id, list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
              FROM embeddings),
            base AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
              FROM iv ORDER BY vec_id LIMIT 16),
            cb AS (
              SELECT ss.s, base.c, base.v[ss.s*8+1:ss.s*8+8] AS cent
              FROM base, (SELECT unnest(generate_series(0, 7)) AS s) ss),
            d AS (
              SELECT iv.vec_id, cb.s, cb.c,
                     list_sum(list_transform([1,2,3,4,5,6,7,8],
                       j -> (iv.v[cb.s*8+j] - cb.cent[j])
                          * (iv.v[cb.s*8+j] - cb.cent[j]))) AS dist
              FROM iv, cb),
            codes AS (
              SELECT vec_id, s, c FROM (
                SELECT vec_id, s, c,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY dist, c) AS rn
                FROM d) WHERE rn = 1)
            SELECT vec_id,
                   string_agg(CAST(c AS VARCHAR), ',' ORDER BY s) AS codes
            FROM codes GROUP BY vec_id ORDER BY vec_id
        """,
        # ADC top-10 for vec_id=0's embedding over the same PQ codes —
        # exact integer LUT join, deterministic id tiebreak
        "pq_adc_topk": """
            WITH iv AS (
              SELECT vec_id, list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
              FROM embeddings),
            base AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
              FROM iv ORDER BY vec_id LIMIT 16),
            cb AS (
              SELECT ss.s, base.c, base.v[ss.s*8+1:ss.s*8+8] AS cent
              FROM base, (SELECT unnest(generate_series(0, 7)) AS s) ss),
            d AS (
              SELECT iv.vec_id, cb.s, cb.c,
                     list_sum(list_transform([1,2,3,4,5,6,7,8],
                       j -> (iv.v[cb.s*8+j] - cb.cent[j])
                          * (iv.v[cb.s*8+j] - cb.cent[j]))) AS dist
              FROM iv, cb),
            codes AS (
              SELECT vec_id, s, c FROM (
                SELECT vec_id, s, c,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY dist, c) AS rn
                FROM d) WHERE rn = 1),
            q AS (SELECT v AS qv FROM iv WHERE vec_id = 0),
            lut AS (
              SELECT cb.s, cb.c,
                     list_sum(list_transform([1,2,3,4,5,6,7,8],
                       j -> (q.qv[cb.s*8+j] - cb.cent[j])
                          * (q.qv[cb.s*8+j] - cb.cent[j]))) AS ld
              FROM cb, q)
            SELECT codes.vec_id, CAST(sum(lut.ld) AS BIGINT) AS adc_dist
            FROM codes JOIN lut ON codes.s = lut.s AND codes.c = lut.c
            GROUP BY 1 ORDER BY adc_dist, vec_id LIMIT 10
        """,
        # the composed v2 curation flow: each stage reuses its
        # standalone oracle's CTE verbatim, chained in stage order —
        # first-occurrence among DECONTAMINATED docs, repetition over
        # CLEANED text, sampling rates over GATED survivor counts
        "curation_v2": r"""
            WITH toks0 AS (
              SELECT doc_id, lang,
                     string_split_regex(lower(text), '\s+') AS ts
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(ts[i.g:i.g+2], ' ') AS shingle
              FROM toks0, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= len(ts) - 2),
            bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0),
            flagged AS (
              SELECT DISTINCT s.doc_id FROM sh s
              JOIN bsh b ON s.shingle = b.shingle),
            surv1 AS (
              SELECT * FROM toks0
              WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
            segs AS (
              SELECT doc_id, i.g - 1 AS pos,
                     array_to_string(ts[(i.g-1)*8+1:i.g*8], ' ') AS passage
              FROM surv1, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= CAST(ceil(len(ts) / 8.0) AS BIGINT)),
            firsts AS (
              SELECT doc_id, pos, passage FROM (
                SELECT doc_id, pos, passage,
                       row_number() OVER (PARTITION BY passage
                                          ORDER BY doc_id, pos) AS rn
                FROM segs) WHERE rn = 1),
            kept AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(passage, ' ' ORDER BY pos) AS clean_text
              FROM firsts GROUP BY 1),
            cts AS (
              SELECT doc_id,
                     list_filter(string_split_regex(clean_text, '\s+'),
                                 x -> x <> '') AS ts
              FROM kept),
            bgc AS (
              SELECT doc_id, ts[i.g] || ' ' || ts[i.g+1] AS bg
              FROM cts, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= len(ts) - 1),
            bga AS (
              SELECT doc_id, sum(c) AS n_bg,
                     sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_bg
              FROM (SELECT doc_id, bg, count(*) AS c FROM bgc
                    GROUP BY 1, 2) GROUP BY 1),
            rep AS (
              SELECT k.doc_id, k.n_kept,
                     coalesce(round(CAST(b.dup_bg AS DOUBLE) / b.n_bg, 6),
                              0.0) AS dup_bigram_frac
              FROM kept k LEFT JOIN bga b USING (doc_id)),
            gated AS (
              SELECT r.*, t.lang FROM rep r JOIN toks0 t USING (doc_id)
              WHERE dup_bigram_frac <= 0.1),
            counts AS (SELECT lang, count(*) AS n FROM gated GROUP BY 1),
            rates AS (
              SELECT lang,
                     least(CAST(1.0 AS DOUBLE),
                           40 * CASE lang WHEN 'en' THEN 0.5
                                          WHEN 'de' THEN 0.25
                                          WHEN 'fr' THEN 0.25 END / n)
                       AS rate
              FROM counts WHERE lang IN ('en', 'de', 'fr'))
            SELECT g.doc_id, g.lang, g.n_kept, g.dup_bigram_frac
            FROM gated g JOIN rates r ON g.lang = r.lang
            WHERE CAST(concat('0x', substr(md5(concat('mix:',
                    CAST(g.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                  / 1152921504606846976.0 < r.rate
            ORDER BY g.doc_id
        """,
        # smoothed tf-idf top-5 keywords; idf written with identical
        # literal shapes; round-before-rank makes the top-k stable
        "tfidf_keywords": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS ts
              FROM documents),
            tok AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
            dfq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n FROM documents),
            sc AS (
              SELECT t.doc_id, t.tok,
                     round(t.tf * (ln((1.0 + n.n) / (f.dfq + 1)) + 1.0), 6)
                       AS sc
              FROM tf t JOIN dfq f USING (tok), n),
            r AS (
              SELECT doc_id, tok, sc,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY sc DESC, tok) AS rn
              FROM sc)
            SELECT doc_id, string_agg(tok, ',' ORDER BY sc DESC, tok)
                     AS keywords
            FROM r WHERE rn <= 5 GROUP BY 1 ORDER BY 1
        """,
        # Count-Min sketch: md5-60 row hashes mod width, exact-int
        # counters, est = min over depth rows — hash-matchable
        "cms_token_counts": r"""
            WITH toks AS (
              SELECT list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS ts
              FROM documents),
            tok AS (SELECT unnest(ts) AS tok FROM toks),
            jj AS (SELECT unnest(generate_series(0, 3)) AS j),
            cnt AS (
              SELECT jj.j,
                     CAST(concat('0x', substr(md5(concat(
                          CAST(jj.j AS VARCHAR), ':', tok)), 1, 15))
                          AS BIGINT) % 1024 AS bucket,
                     count(*) AS c
              FROM tok, jj GROUP BY 1, 2),
            items AS (SELECT DISTINCT tok FROM tok),
            probe AS (
              SELECT i.tok AS value, jj.j,
                     CAST(concat('0x', substr(md5(concat(
                          CAST(jj.j AS VARCHAR), ':', i.tok)), 1, 15))
                          AS BIGINT) % 1024 AS bucket
              FROM items i, jj)
            SELECT p.value, min(coalesce(c.c, 0)) AS est
            FROM probe p LEFT JOIN cnt c
              ON p.j = c.j AND p.bucket = c.bucket
            GROUP BY 1 ORDER BY 1
        """,
        # maximal duplicated k-gram spans: positions of >=2x 5-grams
        # chained by the pos - row_number device
        "repeated_spans": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
              FROM documents),
            ps AS (
              SELECT doc_id, i.g - 1 AS pos,
                     array_to_string(ts[i.g:i.g+4], ' ') AS sh
              FROM toks, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= len(ts) - 4),
            dup AS (
              SELECT sh FROM (SELECT sh, count(*) AS c FROM ps GROUP BY 1)
              WHERE c >= 2),
            m AS (SELECT doc_id, pos FROM ps
                  WHERE sh IN (SELECT sh FROM dup)),
            r AS (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS grp
              FROM m)
            SELECT doc_id, min(pos) AS start_tok,
                   max(pos) + 5 AS end_tok,
                   max(pos) + 5 - min(pos) AS span_len
            FROM r GROUP BY doc_id, grp ORDER BY doc_id, start_tok
        """,
        # exact continuous quantiles: same rank = p*(n-1) definition
        "length_quantiles": """
            SELECT lang,
                   round(quantile_cont(n_chars, 0.25), 4) AS p25,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.75), 4) AS p75
            FROM documents GROUP BY lang ORDER BY lang
        """,
        # concat-and-chunk packing: ONE global window here (the oracle
        # runs single-node); the Spark side is the two-level
        # distributed prefix sum — same exact integers either way
        "pack_sequences": r"""
            WITH t AS (
              SELECT doc_id,
                     len(string_split_regex(trim(text), '\s+')) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens AS start
              FROM t)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   start // 512 AS seq_id,
                   start % 512 AS seq_off
            FROM c ORDER BY doc_id
        """,
        # Gopher repetition signals: every ratio is exact counts
        "repetition_stats": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS ts
              FROM documents),
            tok AS (
              SELECT doc_id, len(ts) AS n_tokens, unnest(ts) AS tok
              FROM toks),
            tt AS (
              SELECT doc_id, any_value(n_tokens) AS n_tokens,
                     max(c) AS top_tok
              FROM (SELECT doc_id, tok, any_value(n_tokens) AS n_tokens,
                           count(*) AS c
                    FROM tok GROUP BY 1, 2) GROUP BY 1),
            bg AS (
              SELECT doc_id, ts[i.g] || ' ' || ts[i.g+1] AS bg
              FROM toks, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= len(ts) - 1),
            bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
            bga AS (
              SELECT doc_id, sum(c) AS n_bg, max(c) AS top_bg,
                     sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_bg
              FROM bgc GROUP BY 1)
            SELECT t.doc_id, t.n_tokens,
                   coalesce(round(CAST(t.top_tok AS DOUBLE) / t.n_tokens, 6),
                            0.0) AS top_tok_frac,
                   coalesce(round(CAST(b.top_bg AS DOUBLE) / b.n_bg, 6),
                            0.0) AS top_bigram_frac,
                   coalesce(round(CAST(b.dup_bg AS DOUBLE) / b.n_bg, 6),
                            0.0) AS dup_bigram_frac
            FROM tt t LEFT JOIN bga b USING (doc_id) ORDER BY t.doc_id
        """,
        # HyperLogLog per-lang distinct (b=8): md5-60 hash, top-8-bit
        # register, rho from bit-length, EXACT-int harmonic sum scaled
        # by 2^53, alpha and corrections with identical literal shapes
        "hll_distinct_lang": """
            WITH h AS (
              SELECT lang,
                     CAST(concat('0x', substr(md5(CAST(text AS VARCHAR)),
                          1, 15)) AS BIGINT) AS hv
              FROM documents WHERE text IS NOT NULL),
            regs AS (
              SELECT lang, hv >> 52 AS idx,
                     max(CASE WHEN (hv & 4503599627370495) = 0 THEN 53
                              ELSE 53 - length(bin(hv & 4503599627370495))
                         END) AS rho
              FROM h GROUP BY 1, 2),
            agg AS (
              SELECT lang, count(*) AS nz,
                     CAST(sum((CAST(1 AS BIGINT) << (53 - rho)))
                          AS BIGINT) AS zs
              FROM regs GROUP BY 1)
            SELECT lang,
                   round(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
                              THEN 256.0 * ln(256.0 / zeros)
                              ELSE raw END, 4) AS est
            FROM (
              SELECT lang,
                     (0.7213 / (1.0 + 1.079 / 256)) * 256.0 * 256.0
                       * 9007199254740992.0
                       / (zs + (256 - nz) * CAST(9007199254740992 AS BIGINT))
                       AS raw,
                     256 - nz AS zeros
              FROM agg)
            ORDER BY lang
        """,
        # Okapi BM25 (Lucene +1 idf variant); arithmetic written with
        # the IDENTICAL literal shapes as the Spark plan (1.2 + 1.0,
        # 1.0 - 0.75 + ...) so both engines evaluate the same doubles
        "bm25_topk": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS ts
              FROM documents),
            tok AS (
              SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM toks),
            dl AS (SELECT doc_id, any_value(dl) AS dl FROM tok GROUP BY 1),
            stats AS (
              SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
            hit AS (
              SELECT doc_id, tok, count(*) AS tf FROM tok
              WHERE tok IN ('spark', 'table', 'window') GROUP BY 1, 2),
            dfreq AS (SELECT tok, count(*) AS df FROM hit GROUP BY 1),
            scored AS (
              SELECT h.doc_id,
                     ln((CAST(s.n AS DOUBLE) - f.df + 0.5) / (f.df + 0.5)
                        + 1.0)
                     * (h.tf * (1.2 + 1.0))
                     / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl))
                       AS contrib
              FROM hit h JOIN dfreq f USING (tok)
              JOIN dl d ON h.doc_id = d.doc_id, stats s)
            SELECT doc_id, round(sum(contrib), 4) AS score
            FROM scored GROUP BY 1
            ORDER BY score DESC, doc_id LIMIT 10
        """,
        # self-trained add-alpha bigram LM quality score (CCNet filter):
        # every ratio is exact counts, so round(,4) is engine-stable
        "lm_quality": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS ts
              FROM documents),
            bg AS (
              SELECT doc_id, ts[i.g] || ' ' || ts[i.g+1] AS bg,
                     ts[i.g] AS w1
              FROM toks, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= len(ts) - 1),
            c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
            c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
            v AS (SELECT count(*) AS v FROM c1)
            SELECT b.doc_id, count(*) AS n_bigrams,
                   round(avg(log10((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v))), 4)
                     AS avg_logp
            FROM bg b JOIN c2 ON b.bg = c2.bg JOIN c1 ON b.w1 = c1.w1, v
            GROUP BY 1 ORDER BY 1
        """,
        # CCNet-style passage dedup over 8-word windows: globally-first
        # occurrence (lowest doc_id, pos) of each distinct passage wins
        "passage_dedup": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
              FROM documents),
            segs AS (
              SELECT doc_id, i.g - 1 AS pos,
                     array_to_string(ts[(i.g-1)*8+1:i.g*8], ' ') AS passage
              FROM toks, (SELECT unnest(generate_series(1, 10000)) AS g) i
              WHERE i.g <= CAST(ceil(len(ts) / 8.0) AS BIGINT)),
            firsts AS (
              SELECT doc_id, pos, passage FROM (
                SELECT doc_id, pos, passage,
                       row_number() OVER (PARTITION BY passage
                                          ORDER BY doc_id, pos) AS rn
                FROM segs) WHERE rn = 1),
            totals AS (
              SELECT doc_id, count(*) AS n_passages FROM segs GROUP BY 1),
            kept AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                     string_agg(passage, ' ' ORDER BY pos) AS clean_text
              FROM firsts GROUP BY 1)
            SELECT t.doc_id,
                   coalesce(k.clean_text, '') AS clean_text,
                   t.n_passages,
                   coalesce(k.n_kept, 0) AS n_kept
            FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
            ORDER BY t.doc_id
        """,
    }


def oracle_sql() -> dict[str, str]:
    sql = _oracle_sql_base()
    # both CC query names are served by the same large-star/small-star
    # query, so they share one oracle
    sql["dedup_clusters_star"] = sql["dedup_clusters"]
    # partitioned-layout ANN variants return identical results to their
    # in-scan twins (the bucket/list filter becomes partition pruning) —
    # one oracle each, two physical layouts proven against it
    sql["ann_topk_lsh_partitioned"] = sql["ann_topk_lsh"]
    sql["ann_topk_ivf_partitioned"] = sql["ann_topk_ivf"]
    return sql
