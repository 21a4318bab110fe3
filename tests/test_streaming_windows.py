"""streaming/windows.py — watermarked windowed aggregation and the
applyInPandasWithState running-totals operator over streamed crawl
tables (checkpointed availableNow passes, state surviving restarts)."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from etlpy_spark.crawl.frontier import LOG_DDL, CrawlConfig, SparkCrawler
from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls
from etlpy_spark.streaming.incremental import stream_snapshot_table
from etlpy_spark.streaming.windows import (
    crawl_log_event_time,
    running_host_totals,
    windowed_fetch_counts,
)


@pytest.fixture(scope="module")
def crawler(spark):
    web = WebConfig(n_hosts=6, n_cats=3, pages_per_cat=4, politeness_budget=4,
                    max_links=3, max_images=1)
    wd = tempfile.mkdtemp(prefix="streamwin_crawl_")
    cr = SparkCrawler(spark, wd, CrawlConfig(web=web, n_shards=2, n_buckets=4))
    cr.run(seed_urls(web, n_per_host=1), max_rounds=1)
    return cr


def test_windowed_counts_stream_equals_batch(spark, crawler):
    """The SAME windowed-count expressions run as a stateful streaming
    agg (watermark bounds state) and as a plain batch agg — results must
    match row-for-row once the stream has consumed everything."""
    log_path = os.path.join(crawler.workdir, "crawl_log")
    stream = stream_snapshot_table(spark, log_path, LOG_DDL)
    q = (
        windowed_fetch_counts(stream, window="30 seconds", watermark="1 minute")
        .writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.host, r.win_start, r.win_end): r.fetches
        for r in spark.sql("select * from wincounts").collect()
    }
    exp = {
        (r.host, r.win_start, r.win_end): r.fetches
        for r in windowed_fetch_counts(crawler.log.read(), window="30 seconds").collect()
    }
    assert got == exp and len(exp) > 1
    # deterministic event time: fetch_seq IS the clock
    ts = crawl_log_event_time(crawler.log.read()).orderBy("fetch_seq").collect()
    assert all(b.event_ts > a.event_ts for a, b in zip(ts, ts[1:]))


def test_running_totals_state_survives_restart(spark, crawler):
    """applyInPandasWithState: per-host cumulative totals carried in the
    state store. Pass 1 consumes round 1; the crawl advances; pass 2 (a
    RESTARTED stream from the same checkpoint) must resume the totals
    from state — final totals equal the batch ground truth, and the
    second pass's batch_rows prove only the increment was read."""
    log_path = os.path.join(crawler.workdir, "crawl_log")
    sink = tempfile.mkdtemp(prefix="streamwin_sink_")
    ckpt = tempfile.mkdtemp(prefix="streamwin_ckpt_")

    def one_pass():
        stream = stream_snapshot_table(spark, log_path, LOG_DDL)
        q = (
            running_host_totals(stream)
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    one_pass()
    n1 = crawler.log.read().count()
    rows1 = spark.read.parquet(sink).collect()
    assert sum(r.batch_rows for r in rows1) == n1
    assert all(r.total == r.batch_rows for r in rows1)  # first pass: total==batch

    crawler.run(None, max_rounds=2)
    one_pass()
    all_rows = spark.read.parquet(sink).collect()
    n2 = crawler.log.read().count()
    # only the increment crossed the stream
    assert sum(r.batch_rows for r in all_rows) == n2 > n1
    # the LAST total per host equals the batch ground truth — state resumed
    batch_truth = {
        r.host: r.cnt
        for r in crawl_log_event_time(crawler.log.read())
        .groupBy("host").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    last = {}
    for r in all_rows:
        if r.host not in last or r.total > last[r.host]:
            last[r.host] = r.total
    assert last == batch_truth
