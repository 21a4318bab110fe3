"""End of the crawl→corpus loop: curate_images over a real crawl's images
table (operators/multimodal.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from etlpy_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def crawl_images(spark, tmp_path_factory):
    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

    web = WebConfig(n_hosts=8, n_cats=3, pages_per_cat=30, politeness_budget=8,
                    max_links=3, max_images=2, skew_host0=2, image_universe=4000,
                    unsupported_every=9)
    wd = str(tmp_path_factory.mktemp("curate_crawl"))
    cr = SparkCrawler(spark, wd, CrawlConfig(web=web, n_shards=4, n_buckets=4))
    cr.run(seed_urls(web, n_per_host=2), max_rounds=2)
    return cr.images.read()


class TestCurateImages:
    def test_loop_closes_and_gates_hold(self, spark, crawl_images):
        total = crawl_images.count()
        assert total > 20
        curated = mm.curate_images(crawl_images, min_dim=48)
        rows = curated.collect()
        assert 0 < len(rows) < total  # something survived AND something was cut
        for r in rows:
            assert r["decode_error"] is None
            assert r["caption"]
            assert min(r["w"], r["h"]) >= 48
            assert r["entropy"] >= 1.0 and r["blur_var"] >= 4.0
            assert r["bytes"] is not None and r["phash"] is not None

    def test_rejections_are_the_right_rows(self, spark, crawl_images):
        curated_ids = {r["image_id"] for r in
                       mm.curate_images(crawl_images, min_dim=48)
                       .select("image_id").collect()}
        # every decode_error row and every sub-48px row must be out
        bad = crawl_images.filter(
            F.col("decode_error").isNotNull()
            | (F.least(F.col("w"), F.col("h")) < 48)
        )
        for r in bad.select("image_id").collect():
            assert r["image_id"] not in curated_ids

    def test_quality_columns_match_serial_kernels(self, spark, crawl_images):
        from etlpy_spark.functions.imagecodec import decode
        from etlpy_spark.functions.imagequality import quality_features

        sample = mm.curate_images(crawl_images, min_dim=48).limit(5).collect()
        assert sample
        for r in sample:
            q = quality_features(decode(bytes(r["bytes"])))
            for k, v in q.items():
                assert r[k] == v, (r["image_id"], k)

    def test_udf_stage_not_single_task(self, spark, crawl_images):
        """The AQE byte-coalesce trap: when the scan is narrow (one
        task), the compute-heavy quality stage must be explicitly spread
        to session parallelism (user repartitions are AQE-exempt); when
        the scan is already wide no extra shuffle is added."""
        narrow = crawl_images.coalesce(1)
        plan = mm.curate_images(narrow, min_dim=48)._jdf.queryExecution().toString()
        assert "RoundRobinPartitioning" in plan or "Repartition" in plan
        wide = crawl_images.repartition(
            spark.sparkContext.defaultParallelism * 2, "image_id")
        plan_wide = mm.curate_images(wide, min_dim=48)._jdf.queryExecution().toString()
        assert "RoundRobinPartitioning" not in plan_wide


class TestPrepareImageCorpus:
    def test_curates_dedups_and_redacts(self, spark, crawl_images):
        from etlpy_spark.functions.imagecodec import decode, phash64
        from etlpy_spark.functions.jpegcodec import exif_gps

        out = mm.prepare_image_corpus(crawl_images, min_dim=48, max_hamming=2)
        rows = out.collect()
        curated_n = mm.curate_images(crawl_images, min_dim=48).count()
        assert 0 < len(rows) <= curated_n
        # near-dup dedup: no two survivors within the Hamming radius
        # (check against the miner itself)
        ids = spark.createDataFrame(
            [(r["image_id"], r["phash"]) for r in rows],
            "image_id string, phash long")
        assert mm.phash_near_dup_pairs(ids, max_hamming=2).count() == 0
        for r in rows[:8]:
            b = bytes(r["bytes"])
            assert exif_gps(b) is None
            assert phash64(decode(b)) == r["phash"]  # pixels untouched
            assert r["had_gps"] is False  # synthetic fixtures carry no GPS

    def test_duplicate_injection_collapses(self, spark, crawl_images):
        from pyspark.sql import functions as F

        curated_ids = [r["image_id"] for r in
                       mm.curate_images(crawl_images, min_dim=48)
                       .select("image_id").limit(3).collect()]
        # inject an exact byte copy of a surviving image under a LATER id
        dup = crawl_images.filter(F.col("image_id") == curated_ids[0]).select(
            F.concat(F.lit("zz-dup-"), "image_id").alias("image_id"),
            *[c for c in crawl_images.columns if c != "image_id"])
        bigger = crawl_images.unionByName(dup)
        out_ids = {r["image_id"] for r in
                   mm.prepare_image_corpus(bigger, min_dim=48)
                   .select("image_id").collect()}
        assert curated_ids[0] in out_ids          # min-id survivor kept
        assert f"zz-dup-{curated_ids[0]}" not in out_ids
