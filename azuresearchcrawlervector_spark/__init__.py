"""azuresearchcrawlervector_spark — a PySpark-native URL-frontier + fetch
scheduler with the query/data-processing capabilities of the reference
crawler (lulielmo/AzureSearchCrawlerVector), re-expressed Spark-first.

Layout
------
core/       pure-Python kernels (no Spark imports) shared by the vectorized
            pandas UDFs and the golden-oracle simulator: URL canonicalization,
            xxhash64, HTML link/text extraction, the PNG/JPEG image codecs,
            deterministic pseudo-embeddings, console output.
functions/  Arrow/pandas UDF wrappers + built-in-function compositions
            (urls, html, embeddings, image validation, text analysis).
operators/  seen-sketch (sharded Bloom), politeness scheduler, dedup family,
            similarity search, PQ, BM25 search, HLL/Count-Min sketches,
            graph ranking, LM quality, curation, contamination, packing,
            recrawl, sampling, sessions, anchor text.
sources/    synthetic fixture generator (pages/images/robots/sitemaps),
            payload tables, sitemap/robots parsing.
plans/      the iterative frontier engine (BFS / DFS / sitemap traversal
            policies) + snapshot checkpointing.
cli.py, config.py, session.py, simulator.py
            command line, crawl config, Spark session, golden oracle.

Design stance (SURVEY.md §7.0): ONE engine, three traversal policies
expressed as priority keys over an explicit frontier table — not three
engines like the reference. All state lives in snapshot-versioned parquet
tables (Iceberg-style manifest; the Iceberg runtime jar is not available
offline); all per-row compute is vectorized pandas/Arrow UDFs; the driver
loop is the only imperative code.
"""

__version__ = "0.1.0"
