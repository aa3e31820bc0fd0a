"""Structured Streaming page processing, P4 retry, S2 sites-file
multi-crawl."""

import datetime
import hashlib
import json

from pyspark.sql import functions as F

from azuresearchcrawlervector_spark.config import CrawlConfig, CrawlMode, parse_sites_json
from azuresearchcrawlervector_spark.plans.crawl import CrawlEngine, run_sites
from azuresearchcrawlervector_spark.sources.fixtures import (
    broken_links_site,
    test_website as website1_graph,
    test_website2 as website2_graph,
)
from azuresearchcrawlervector_spark.sources.synthetic import pages_df
from azuresearchcrawlervector_spark.streaming.stream import (
    read_documents_deduped, run_file_stream,
)


def test_streaming_pipeline_availablenow(spark, tmp_path):
    g = website1_graph()
    rows = pages_df(spark, g).select(
        "url", "status", "html", "image_id",
        F.lit(datetime.datetime(2026, 1, 1)).alias("fetch_ts"),
    )
    inp = str(tmp_path / "in")
    rows.limit(10).write.parquet(inp)
    # a replayed duplicate batch — dropDuplicates + content-addressed ids
    # must keep the output idempotent
    rows.limit(4).write.mode("append").parquet(inp)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_file_stream(spark, inp, out, ckpt)
    docs = read_documents_deduped(spark, out)
    got = docs.collect()
    urls = sorted(r["url"] for r in got)
    assert len(urls) == len(set(urls))  # no dup ids after replay
    for r in got:
        assert r["id"] == hashlib.sha512(r["url"].encode()).hexdigest()
        assert len(r["title_vector"]) == 128
        assert r["title"]


def test_retry_policy(spark, tmp_ckpt):
    # broken site: /gone.html is 404; with retries on it is re-attempted
    # retry_max_attempts times and then dropped
    g = broken_links_site()
    cfg = CrawlConfig(root_url=g.root, mode=CrawlMode.STANDARD,
                      retry_max_attempts=2)
    eng = CrawlEngine(spark, pages_df(spark, g), cfg, tmp_ckpt,
                      validate_images=False)
    res = eng.run()
    log = res.frontier_log(spark)
    gone_attempts = log.filter(
        F.col("url") == "http://broken.example.com/gone.html").count()
    assert gone_attempts == 3  # initial + 2 retries
    assert res.manifest.finished


def test_sites_file_multi_crawl(spark, tmp_path):
    g1, g2 = website1_graph(), website2_graph()
    pages = pages_df(spark, g1).unionByName(pages_df(spark, g2))
    # the reference's multi-site scenario seeds the selector-scoped site at
    # /cases.html, not at / (TestWebsiteIntegrationTests.cs:119-160) — the
    # root page has no div.case-header links so a root-seeded selector crawl
    # could never reach /cases/.
    sites = json.dumps([
        {"uri": g1.root, "maxDepth": 1},
        {"uri": "not a uri", "maxDepth": 2},      # skipped like the reference
        {"uri": g2.root.rstrip("/") + "/cases.html", "maxDepth": 10,
         "domSelector": g2.selector},
    ])
    assert len(parse_sites_json(sites)) == 3
    results = run_sites(spark, pages, sites, str(tmp_path / "sites"),
                        validate_images=False)
    assert len(results) == 2  # invalid URI row skipped
    d1 = results[0].documents(spark)
    assert d1.agg(F.max("depth")).collect()[0][0] == 1  # per-site maxDepth
    d2_urls = {r["url"] for r in results[1].documents(spark).collect()}
    assert any("/cases/" in u for u in d2_urls)  # selector-scoped crawl ran


def test_host_quota_stateful_stream(spark, tmp_path):
    # applyInPandasWithState: per-host quota persists ACROSS micro-batches
    # (maxFilesPerTrigger=1 forces one batch per input file)
    from azuresearchcrawlervector_spark.streaming.stream import (
        run_host_quota_stream,
    )

    inp = str(tmp_path / "in")
    ts = datetime.datetime(2026, 1, 1)
    for batch in range(3):  # 3 files -> 3 micro-batches
        rows = [(f"http://h{h}.ex.com/p{batch}_{j}", 200, "<html/>", None,
                 ts, f"h{h}.ex.com")
                for h in range(2) for j in range(2)]
        spark.createDataFrame(
            rows, "url string, status int, html string, image_id string,"
                  " fetch_ts timestamp, host string"
        ).coalesce(1).write.mode("append").parquet(inp)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_host_quota_stream(spark, inp, out, ckpt, quota=3)
    got = spark.read.parquet(out)
    per_host = {r["host"]: r["n"] for r in
                got.groupBy("host").agg(F.count("*").alias("n")).collect()}
    # 6 rows/host arrived; exactly quota=3 passed, state carried over
    assert per_host == {"h0.ex.com": 3, "h1.ex.com": 3}
    seqs = sorted(r["host_seq"] for r in got.filter("host = 'h0.ex.com'").collect())
    assert seqs == [0, 1, 2]


def test_index_single_document_raw_url_id(spark, tmp_path):
    """S9 parity: the single-doc sink uses the RAW URL as the document
    id (the reference's documented inconsistency vs S8's sha512 ids),
    appends idempotently, and stays schema-compatible with S8 readers."""
    import hashlib

    from azuresearchcrawlervector_spark.streaming.stream import (
        index_single_document, read_documents_deduped,
    )

    out = str(tmp_path / "docs")
    url = "http://example.com/a?q=1"
    index_single_document(spark, out, url, "hello body", title="T")
    index_single_document(spark, out, url, "hello body", title="T")  # replay
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2  # append-only store
    assert all(r["id"] == url for r in rows)  # RAW url, not sha512
    assert rows[0]["id"] != hashlib.sha512(url.encode()).hexdigest()
    assert len(rows[0]["title_vector"]) == 128
    deduped = read_documents_deduped(spark, out).collect()
    assert len(deduped) == 1 and deduped[0]["id"] == url


def test_streaming_sessions_stateful(spark, tmp_path):
    # applyInPandasWithState sessionization: sessions CLOSE across
    # micro-batch boundaries and match the batch operator's closed set
    from azuresearchcrawlervector_spark.operators.sessions import session_stats
    from azuresearchcrawlervector_spark.streaming.stream import (
        with_streaming_sessions,
    )

    base = datetime.datetime(2026, 1, 1)
    # user 1: sessions [0,10], [50000,50005], [120000] (gaps 49990, 69995)
    # user 2: sessions [5, 40], [90000]
    times = {1: [0, 10, 50000, 50005, 120000], 2: [5, 40, 90000]}
    rows = sorted(
        [(eid, base + datetime.timedelta(seconds=s), uid, float(uid))
         for uid, ss in times.items()
         for eid, s in enumerate(ss, start=uid * 100)],
        key=lambda r: r[1])
    inp = str(tmp_path / "sess_in")
    for i, r in enumerate(rows):  # one file per event -> one batch each
        spark.createDataFrame(
            [r], "event_id long, ts timestamp, user_id long, value double"
        ).coalesce(1).write.mode("append").parquet(inp)
    schema = "event_id long, ts timestamp, user_id long, value double"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = str(tmp_path / "sess_out")
    q = (with_streaming_sessions(stream, gap_s=30_000)
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], r["session_seq"]):
           (r["start_s"], r["end_s"], r["n_events"], r["sum_value"])
           for r in spark.read.parquet(out).collect()}
    # the batch operator on the same events, minus each user's OPEN
    # (last) session, is exactly the streamed closed set
    batch = session_stats(
        spark.createDataFrame(rows, schema), gap_s=30_000)
    last = {u: max(ss) for u, ss in
            {u: [r["session_seq"] for r in batch.collect()
                 if r["user_id"] == u] for u in times}.items()}
    want = {(r["user_id"], r["session_seq"]):
            (int(r["session_start"].timestamp()),
             int(r["session_end"].timestamp()),
             r["n_events"], r["sum_value"])
            for r in batch.collect()
            if r["session_seq"] != last[r["user_id"]]}
    assert got == want
    assert set(got) == {(1, 1), (1, 2), (2, 1)}


def test_streaming_sessions_multichunk_group(spark, tmp_path):
    # a group larger than arrow maxRecordsPerBatch arrives as MULTIPLE
    # unordered chunks in one micro-batch — sessionization must sort
    # across chunks, not per chunk
    from azuresearchcrawlervector_spark.streaming.stream import (
        with_streaming_sessions,
    )

    base = datetime.datetime(2026, 1, 1)
    secs = [0, 10, 20, 30, 40_000, 40_010, 40_020, 90_000, 90_005, 130_000]
    rows = [(i, base + datetime.timedelta(seconds=s), 1, 1.0)
            for i, s in enumerate(secs)]
    import random
    random.Random(3).shuffle(rows)     # unordered within the batch
    inp = str(tmp_path / "mc_in")
    schema = "event_id long, ts timestamp, user_id long, value double"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(inp)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = spark.readStream.schema(schema).parquet(inp)
        out = str(tmp_path / "mc_out")
        q = (with_streaming_sessions(stream, gap_s=30_000)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / "mc_ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = {r["session_seq"]: (r["start_s"], r["end_s"], r["n_events"])
           for r in spark.read.parquet(out).collect()}
    b = int(base.replace(tzinfo=datetime.timezone.utc).timestamp())
    # 3 closed sessions (the 130000 tail stays open in state)
    assert got == {1: (b, b + 30, 4), 2: (b + 40_000, b + 40_020, 3),
                   3: (b + 90_000, b + 90_005, 2)}
