"""Structured-Streaming bridge (streaming/incremental.py): each crawl
round's newly committed crawl-log rows are processed exactly once by a
checkpointed availableNow pass — the incremental-consumer pattern that
replaces full table re-scans between rounds at scale."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from etlpy_spark.crawl.frontier import LOG_DDL, CrawlConfig, SparkCrawler
from etlpy_spark.sources.synthetic_web import WebConfig, host_expr, seed_urls
from etlpy_spark.streaming.incremental import (
    process_increment,
    stream_snapshot_table,
)


@pytest.fixture(scope="module")
def crawler(spark):
    web = WebConfig(n_hosts=6, n_cats=3, pages_per_cat=4, politeness_budget=4,
                    max_links=3, max_images=1)
    wd = tempfile.mkdtemp(prefix="stream_crawl_")
    cr = SparkCrawler(spark, wd, CrawlConfig(web=web, n_shards=2, n_buckets=4))
    cr.run(seed_urls(web, n_per_host=1), max_rounds=1)
    return cr


def _sink_rows(spark, sink):
    return spark.read.parquet(sink).collect()


def test_each_round_processed_exactly_once(spark, crawler):
    log_path = os.path.join(crawler.workdir, "crawl_log")
    sink = tempfile.mkdtemp(prefix="stream_sink_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")

    def annotate(df):
        return df.withColumn("host", host_expr(F.col("url")))

    stream = stream_snapshot_table(spark, log_path, LOG_DDL)
    process_increment(stream, sink, ckpt, transform=annotate)
    n_round0 = crawler.log.read().count()
    rows = _sink_rows(spark, sink)
    assert len(rows) == n_round0 > 0
    assert all(r.host.startswith("host") for r in rows)

    # a second pass with NO new commits must be a no-op (exactly-once)
    process_increment(stream, sink, ckpt, transform=annotate)
    assert len(_sink_rows(spark, sink)) == n_round0

    # round 2 commits new part files; the next pass picks up ONLY them
    crawler.run(None, max_rounds=2)
    n_total = crawler.log.read().count()
    assert n_total > n_round0
    process_increment(stream, sink, ckpt, transform=annotate)
    got = _sink_rows(spark, sink)
    assert len(got) == n_total
    # no duplicates: the streamed rows are exactly the table's rows
    assert {(r.fetch_seq, r.url) for r in got} == {
        (r.fetch_seq, r.url)
        for r in crawler.log.read().select("fetch_seq", "url").collect()
    }


def test_mor_tables_are_refused(spark):
    # a merge-on-read table carrying tombstones -> a file stream would
    # surface the deleted rows; the bridge must refuse it
    from etlpy_spark.sources.catalog import SnapshotTable

    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="stream_mor_"))
    tbl.overwrite(spark.createDataFrame(
        [(f"k{i}", i) for i in range(10)], "k string, v int"
    ))
    tbl.append_with_deletes(
        spark.createDataFrame([], "k string, v int"),
        spark.createDataFrame([("k0",)], "k string"),
        key="k", compact_threshold=100.0,
    )
    with pytest.raises(ValueError, match="merge-on-read"):
        stream_snapshot_table(spark, tbl.path, "k string, v int")


def test_mor_history_refused_even_after_compaction(spark):
    # a compacted previously-MoR table has a CLEAN head snapshot, but the
    # stale pre-compaction dirs + .del dirs are still on disk under data/
    # — the history/disk guard must refuse it, not just the head check
    from etlpy_spark.sources.catalog import SnapshotTable

    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="stream_compact_"))
    tbl.overwrite(spark.createDataFrame(
        [(f"k{i}", i) for i in range(10)], "k string, v int"
    ))
    tbl.append_with_deletes(
        spark.createDataFrame([], "k string, v int"),
        spark.createDataFrame([("k0",)], "k string"),
        key="k", compact_threshold=100.0,
    )
    tbl.compact()
    assert not tbl.snapshot(tbl.current_version()).delete_dirs  # clean head
    with pytest.raises(ValueError):
        stream_snapshot_table(spark, tbl.path, "k string, v int")


def test_mid_history_overwrite_refused(spark):
    # overwrite after data exists orphans the old dirs on disk; data/*
    # would stream both copies
    from etlpy_spark.sources.catalog import SnapshotTable

    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="stream_ow_"))
    tbl.append(spark.createDataFrame([("a", 1)], "k string, v int"))
    tbl.overwrite(spark.createDataFrame([("b", 2)], "k string, v int"))
    with pytest.raises(ValueError, match="overwrite|orphan"):
        stream_snapshot_table(spark, tbl.path, "k string, v int")


def test_inprogress_attempt_dirs_not_streamed(spark, crawler):
    # a directory staged beside the committed version dirs (here a
    # data/vNNNNNN.inprogress/, NOT dot-prefixed, the shape an attempt-dir
    # writer would leave) must never be ingested by the stream's glob, even
    # with rows fully written inside; the engine's own writers land flat
    # part files via hidden .tmp-* names
    log_path = os.path.join(crawler.workdir, "crawl_log")
    committed = crawler.log.read().count()
    v = crawler.log.current_version()
    stage = os.path.join(
        log_path, "data", f"v{v + 1:06d}.inprogress", "deadbeef"
    )
    os.makedirs(stage, exist_ok=True)
    spark.createDataFrame(
        [(99_999, "http://ghost.example/x", 9, 0)], LOG_DDL
    ).toPandas().to_parquet(os.path.join(stage, "chunk-00000.parquet"))
    try:
        sink = tempfile.mkdtemp(prefix="stream_sink2_")
        ckpt = tempfile.mkdtemp(prefix="stream_ckpt2_")
        stream = stream_snapshot_table(spark, log_path, LOG_DDL)
        process_increment(stream, sink, ckpt)
        rows = _sink_rows(spark, sink)
        assert len(rows) == committed
        assert all(r.url != "http://ghost.example/x" for r in rows)
    finally:
        import shutil

        shutil.rmtree(os.path.dirname(stage), ignore_errors=True)
