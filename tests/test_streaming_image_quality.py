"""Exactly-once incremental image-quality annotation over the crawl's
images table: streaming bridge (streaming/incremental.py) × the quality
kernels (operators/multimodal.py) — the per-round consumer pattern a
100 TB crawl runs instead of re-scanning the whole table."""



import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def crawler(spark, tmp_path):
    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

    web = WebConfig(n_hosts=5, n_cats=2, pages_per_cat=20, politeness_budget=6,
                    max_links=3, max_images=2, skew_host0=2, image_universe=2000)
    cr = SparkCrawler(spark, str(tmp_path / "crawl"),
                      CrawlConfig(web=web, n_shards=4, n_buckets=4))
    cr.init_from_seeds(seed_urls(web, n_per_host=2))
    return cr


def _annotate(stream_df):
    """Streaming-compatible quality annotation: one mapInPandas (no
    self-join — curate_images' join shape is a batch-only plan) over the
    decodable rows."""
    from etlpy_spark.operators.multimodal import image_quality_features

    return image_quality_features(stream_df.filter(F.col("decode_error").isNull()))


class TestIncrementalQuality:
    def test_rounds_process_exactly_once(self, spark, crawler, tmp_path):
        from etlpy_spark.crawl.frontier import IMAGES_DDL
        from etlpy_spark.streaming.incremental import (
            process_increment,
            stream_snapshot_table,
        )

        sink = str(tmp_path / "quality_sink")
        ckpt = str(tmp_path / "ckpt")

        crawler.run_round()
        stream = stream_snapshot_table(spark, crawler.images.path, IMAGES_DDL)
        process_increment(stream, sink, ckpt, transform=_annotate)
        first = spark.read.parquet(sink)
        n1 = first.count()
        decodable1 = crawler.images.read().filter(
            F.col("decode_error").isNull()).count()
        assert n1 == decodable1 > 0

        crawler.run_round()
        stream = stream_snapshot_table(spark, crawler.images.path, IMAGES_DDL)
        process_increment(stream, sink, ckpt, transform=_annotate)
        after = spark.read.parquet(sink)
        decodable2 = crawler.images.read().filter(
            F.col("decode_error").isNull()).count()
        assert after.count() == decodable2 > n1          # only the delta ran
        assert after.select("image_id").distinct().count() == decodable2

        # incremental result == batch recomputation over the full table
        batch = _annotate(crawler.images.read())
        a = {tuple(r) for r in after.collect()}
        b = {tuple(r) for r in batch.collect()}
        assert a == b
