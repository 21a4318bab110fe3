"""Tests for the WebDataset tar-shard source (sources/webdataset.py):
member iteration, sample grouping by key, the Spark readers, and an
end-to-end image+caption pipeline over shards."""

import numpy as np
import pytest

from etlpy_spark.functions.imagecodec import (
    caption_for,
    decode,
    encode_png,
    render_pixels,
)
from etlpy_spark.sources.webdataset import (
    iter_tar_members,
    iter_webdataset_samples,
    read_tar,
    read_webdataset,
    write_webdataset,
)


def _mk_samples(n=6, start=0):
    out = []
    for i in range(start, start + n):
        iid = f"img-{i:012d}"
        px = render_pixels(iid)
        out.append((f"{i:06d}", {
            "png": encode_png(px),
            "txt": caption_for(iid, 42).encode(),
            "json": b'{"id": "%s"}' % iid.encode(),
        }))
    return out


def test_roundtrip_plain_and_gzip_shards(tmp_path):
    samples = _mk_samples()
    for gz in (False, True):
        p = str(tmp_path / (f"s{gz}.tar" + (".gz" if gz else "")))
        write_webdataset(p, samples, gzip_shard=gz)
        got = list(iter_webdataset_samples(open(p, "rb").read()))
        assert [k for k, _ in got] == [k for k, _ in samples]
        for (k, files), (_, exp) in zip(got, samples):
            assert files == exp


def test_key_splits_at_first_dot_and_tolerates_any_order(tmp_path):
    import io
    import tarfile

    p = str(tmp_path / "odd.tar")
    with tarfile.open(p, "w") as tf:
        # interleaved member order + multi-dot extension
        for name, blob in (("a/0001.seg.png", b"A"), ("a/0002.txt", b"B"),
                           ("a/0001.txt", b"C"), ("a/0002.seg.png", b"D")):
            info = tarfile.TarInfo(name=name)
            info.size = len(blob)
            tf.addfile(info, io.BytesIO(blob))
    got = dict(iter_webdataset_samples(open(p, "rb").read()))
    assert got == {
        "a/0001": {"seg.png": b"A", "txt": b"C"},
        "a/0002": {"txt": b"B", "seg.png": b"D"},
    }


def test_spark_readers_match_serial(spark, tmp_path):
    d = tmp_path / "shards"
    d.mkdir()
    truth = {}
    for s in range(3):
        samples = _mk_samples(4, start=4 * s)
        write_webdataset(str(d / f"shard-{s:03d}.tar"), samples)
        truth.update(dict(samples))

    rows = read_webdataset(spark, str(d) + "/*.tar").collect()
    assert len(rows) == 12
    for r in rows:
        exp = truth[r.key]
        assert sorted(r.exts) == sorted(exp)
        assert {k: bytes(v) for k, v in r.files.items()} == exp

    # the flat tar reader sees every member
    n_members = read_tar(spark, str(d) + "/*.tar").count()
    assert n_members == 12 * 3


def test_webdataset_image_caption_pipeline(spark, tmp_path):
    """Shards → samples → decode the image member + pair the caption:
    the multimodal training-data ingest path, checked against the
    generators' ground truth."""
    from pyspark.sql import functions as F

    from etlpy_spark.operators import multimodal as mm

    d = tmp_path / "wds"
    d.mkdir()
    for s in range(2):
        write_webdataset(str(d / f"w-{s}.tar"), _mk_samples(5, start=5 * s))

    wds = read_webdataset(spark, str(d) + "/*.tar")
    pairs = wds.select(
        F.col("key").alias("image_id"),
        F.element_at("files", "png").alias("bytes"),
        F.decode(F.element_at("files", "txt"), "UTF-8").alias("caption"),
    )
    feats = mm.decode_image_features(pairs).join(
        pairs.select("image_id", "caption"), "image_id"
    )
    got = {r.image_id: r for r in feats.collect()}
    assert len(got) == 10
    for key, r in got.items():
        iid = f"img-{int(key):012d}"
        px = render_pixels(iid)
        assert (r.h, r.w) == px.shape[:2] and r.fmt == "png"
        assert r.caption == caption_for(iid, 42)


def test_read_zip_matches_serial(spark, tmp_path):
    import io
    import zipfile

    from etlpy_spark.sources.webdataset import read_zip

    d = tmp_path / "zips"
    d.mkdir()
    truth = {}
    for s in range(2):
        p = str(d / f"z-{s}.zip")
        with zipfile.ZipFile(p, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("dir/", "")  # directory entries are skipped
            for i in range(3):
                name, blob = f"d/{s}-{i}.bin", bytes([s, i]) * 50
                zf.writestr(name, blob)
                truth[name] = blob
    rows = read_zip(spark, str(d) + "/*.zip").collect()
    assert len(rows) == 6
    for r in rows:
        assert bytes(r.bytes) == truth[r.name]


# -- distributed export -------------------------------------------------------


def test_export_webdataset_roundtrip_and_determinism(spark, tmp_path):
    from etlpy_spark.sources.webdataset import export_webdataset, read_webdataset

    samples = [
        (f"{i:05d}", {"jpg": bytes([i % 251]) * (50 + i), "txt": f"caption {i}".encode()})
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [(k, f) for k, f in samples], "key string, files map<string, binary>"
    )
    out1 = str(tmp_path / "wds1")
    stats = export_webdataset(df, out1, n_shards=4)
    assert [r.shard for r in stats] == [f"shard-{i:05d}.tar" for i in range(4)]
    assert sum(r.n_samples for r in stats) == 40

    back = read_webdataset(spark, out1 + "/shard-*.tar").collect()
    got = {r.key: {e: bytes(b) for e, b in r.files.items()} for r in back}
    assert got == dict(samples)

    # byte-identical re-export (any cluster size / retry schedule)
    out2 = str(tmp_path / "wds2")
    export_webdataset(df.repartition(7), out2, n_shards=4)
    for i in range(4):
        a = (tmp_path / "wds1" / f"shard-{i:05d}.tar").read_bytes()
        b = (tmp_path / "wds2" / f"shard-{i:05d}.tar").read_bytes()
        assert a == b, i


def test_export_webdataset_from_crawl_images(spark, tmp_path):
    """The training-loop close: crawl images table → tar shards → keyed
    samples with image bytes + caption sidecar."""
    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls
    from etlpy_spark.sources.webdataset import export_webdataset, read_webdataset
    from pyspark.sql import functions as F

    web = WebConfig(n_hosts=3, n_cats=2, pages_per_cat=5, politeness_budget=3,
                    max_links=2, max_images=2)
    cr = SparkCrawler(spark, str(tmp_path / "wd"),
                      CrawlConfig(web=web, n_shards=2, n_buckets=4))
    cr.run(seed_urls(web, n_per_host=1), max_rounds=1)
    images = cr.images.read().filter(F.col("decode_error").isNull())
    n_img = images.count()
    assert n_img > 0
    df = images.select(
        F.col("image_id").alias("key"),
        F.create_map(
            F.col("fmt"), F.col("bytes"),
            F.lit("txt"), F.encode("caption", "UTF-8"),
        ).alias("files"),
    )
    out = str(tmp_path / "shards")
    stats = export_webdataset(df, out, n_shards=3)
    assert sum(r.n_samples for r in stats) == n_img
    back = read_webdataset(spark, out + "/shard-*.tar")
    assert back.count() == n_img
    one = back.orderBy("key").head()
    assert "txt" in one.exts and len(one.exts) == 2
