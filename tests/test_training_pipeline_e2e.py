"""The whole training-data path in one test: crawl → curate (quality
gates) → GPS redaction → deterministic WebDataset export → read back.
Composes the session's operators end-to-end the way a real pipeline
would chain them over the target images table."""

import io
import tarfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from etlpy_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls
    from etlpy_spark.sources.webdataset import export_webdataset

    web = WebConfig(n_hosts=6, n_cats=3, pages_per_cat=24, politeness_budget=8,
                    max_links=3, max_images=2, skew_host0=2, image_universe=3000)
    wd = str(tmp_path_factory.mktemp("e2e_crawl"))
    cr = SparkCrawler(spark, wd, CrawlConfig(web=web, n_shards=4, n_buckets=4))
    cr.run(seed_urls(web, n_per_host=2), max_rounds=2)

    curated = mm.curate_images(cr.images.read(), min_dim=48)
    redacted = mm.redact_image_gps(curated).join(
        curated.select("image_id", "caption", "phash"), "image_id")
    samples = redacted.select(
        F.col("image_id").alias("key"),
        F.create_map(
            F.lit("img"), F.col("bytes"),
            F.lit("txt"), F.encode(F.col("caption"), "UTF-8"),
        ).alias("files"),
    )
    out = str(tmp_path_factory.mktemp("e2e_shards"))
    stats = export_webdataset(samples, out, n_shards=3)
    return {"curated": curated, "out": out, "stats": stats}


class TestTrainingPipeline:
    def test_export_covers_curated_set(self, spark, pipeline_out):
        n_curated = pipeline_out["curated"].count()
        n_exported = sum(s[1] for s in pipeline_out["stats"])
        assert n_curated > 0 and n_exported == n_curated

    def test_readback_roundtrips_samples(self, spark, pipeline_out):
        from etlpy_spark.sources.webdataset import read_webdataset

        back = read_webdataset(spark, pipeline_out["out"] + "/*.tar")
        rows = back.collect()
        curated = {r["image_id"]: r for r in pipeline_out["curated"].collect()}
        assert len(rows) == len(curated)
        from etlpy_spark.functions.imagecodec import decode, phash64

        for r in rows[:10]:
            files = dict(r["files"])
            src = curated[r["key"]]
            assert bytes(files["txt"]).decode() == src["caption"]
            px = decode(bytes(files["img"]))
            assert phash64(px) == src["phash"]

    def test_no_gps_survives_into_shards(self, pipeline_out):
        from etlpy_spark.functions.jpegcodec import exif_gps

        out = pipeline_out["out"]
        import glob

        seen = 0
        for shard in glob.glob(out + "/*.tar"):
            with tarfile.open(shard) as tf:
                for m in tf.getmembers():
                    if m.name.endswith(".img"):
                        seen += 1
                        assert exif_gps(tf.extractfile(m).read()) is None
        assert seen > 0

    def test_shards_deterministic_across_parallelism(self, spark, pipeline_out):
        """Re-export the same samples at a different shuffle layout: the
        shard bytes must be identical (the exporter's cluster-size
        invariance claim, here exercised through the full pipeline)."""
        import glob
        import hashlib
        import tempfile

        from etlpy_spark.sources.webdataset import export_webdataset

        curated = pipeline_out["curated"]
        redacted = mm.redact_image_gps(curated).join(
            curated.select("image_id", "caption", "phash"), "image_id")
        samples = redacted.select(
            F.col("image_id").alias("key"),
            F.create_map(
                F.lit("img"), F.col("bytes"),
                F.lit("txt"), F.encode(F.col("caption"), "UTF-8"),
            ).alias("files"),
        ).repartition(11)  # deliberately different upstream layout
        out2 = tempfile.mkdtemp(prefix="e2e_shards2_")
        export_webdataset(samples, out2, n_shards=3)

        def digest(d):
            return {
                p.rsplit("/", 1)[-1]: hashlib.sha256(open(p, "rb").read()).hexdigest()
                for p in sorted(glob.glob(d + "/*.tar"))
            }

        assert digest(pipeline_out["out"]) == digest(out2)
