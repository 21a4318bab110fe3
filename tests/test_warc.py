"""Tests for the WARC source (sources/warc.py): record framing, gzip
member layout, HTTP unwrapping, the Spark reader, and an end-to-end
archive-replay pipeline over the synthetic web."""

import gzip
import os
import re
import shutil
import tempfile

import numpy as np
import pytest

from etlpy_spark.sources.warc import (
    iter_warc_records,
    read_warc,
    write_warc,
)


def _mk_records(n=5, host="h0"):
    recs = []
    for i in range(n):
        body = f"<html><body>doc {i}</body></html>".encode()
        recs.append({
            "warc_type": "response",
            "url": f"http://{host}.example/p{i}",
            "date": f"2026-01-0{i % 9 + 1}T00:00:00Z",
            "http_status": 200,
            "http_content_type": "text/html",
            "payload": body,
        })
    return recs


def test_roundtrip_plain_and_gzip(tmp_path):
    recs = _mk_records()
    for compress in (False, True):
        p = str(tmp_path / (f"t{compress}.warc" + (".gz" if compress else "")))
        write_warc(p, recs, compress=compress)
        data = open(p, "rb").read()
        if compress:
            assert data[:2] == b"\x1f\x8b"
            # one gzip MEMBER per record: stdlib gzip sees them all
            assert gzip.decompress(data).count(b"WARC/1.0") == len(recs) + 1
        got = list(iter_warc_records(data))
        assert got[0]["warc_type"] == "warcinfo"
        resp = got[1:]
        assert len(resp) == len(recs)
        for r, exp in zip(resp, recs):
            assert r["warc_type"] == "response"
            assert r["url"] == exp["url"] and r["date"] == exp["date"]
            assert r["http_status"] == 200
            assert r["http_content_type"] == "text/html"
            assert r["payload"] == exp["payload"]
            assert r["record_id"].startswith("<urn:sha1:")


def test_deterministic_record_ids(tmp_path):
    p1, p2 = str(tmp_path / "a.warc.gz"), str(tmp_path / "b.warc.gz")
    write_warc(p1, _mk_records())
    write_warc(p2, _mk_records())
    assert open(p1, "rb").read() == open(p2, "rb").read()  # byte-stable


def test_truncated_and_malformed_raise(tmp_path):
    p = str(tmp_path / "t.warc")
    write_warc(p, _mk_records(2), compress=False)
    data = open(p, "rb").read()
    with pytest.raises(ValueError, match="truncated WARC record block"):
        list(iter_warc_records(data[: len(data) - 30]))
    with pytest.raises(ValueError, match="version"):
        list(iter_warc_records(b"NOT A WARC\r\n\r\n"))
    # gzip member cut mid-stream
    gz = open(str(tmp_path / "g.warc.gz"), "wb")
    write_warc(str(tmp_path / "g.warc.gz"), _mk_records(2))
    gzdata = open(str(tmp_path / "g.warc.gz"), "rb").read()
    with pytest.raises(ValueError, match="gzip"):
        list(iter_warc_records(gzdata[: len(gzdata) - 10]))


def test_non_http_records_carry_raw_block(tmp_path):
    p = str(tmp_path / "m.warc")
    write_warc(p, [{
        "warc_type": "resource", "url": "http://h.example/blob",
        "payload": b"\x00\x01binary", "content_type": "application/octet-stream",
    }], compress=False)
    recs = list(iter_warc_records(open(p, "rb").read()))
    assert recs[1]["warc_type"] == "resource"
    assert recs[1]["block"] == b"\x00\x01binary"
    assert "http_status" not in recs[1]


def test_spark_reader_matches_serial(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    all_recs = {}
    for f in range(3):
        recs = _mk_records(4, host=f"h{f}")
        write_warc(str(d / f"seg-{f}.warc.gz"), recs)
        for r in recs:
            all_recs[r["url"]] = r["payload"]
    df = read_warc(spark, str(d) + "/*.warc.gz")
    rows = df.filter("warc_type = 'response'").collect()
    assert len(rows) == 12
    for r in rows:
        assert bytes(r.payload) == all_recs[r.url]
        assert r.http_status == 200
    # warcinfo rows are present until filtered
    assert read_warc(spark, str(d) + "/*.warc.gz").count() == 15


def test_archive_replay_pipeline(spark, tmp_path):
    """End-to-end crawl replay: archive synthetic-web pages into WARC
    segments, read them back through Spark, and extract links/captions
    with the SAME parser the live crawl uses — counts must match the
    generator's ground truth."""
    from etlpy_spark.sources.synthetic_web import (
        WebConfig, page, parse_page, seed_urls,
    )

    web = WebConfig(n_hosts=2, n_cats=2, pages_per_cat=4)
    urls = seed_urls(web, n_per_host=3)
    recs, truth = [], {}
    for u in urls:
        html = page(u, web)["html"]
        truth[u] = parse_page(html)
        recs.append({
            "warc_type": "response", "url": u, "http_status": 200,
            "payload": html.encode(), "date": "2026-02-02T00:00:00Z",
        })
    p = str(tmp_path / "replay.warc.gz")
    write_warc(p, recs)

    import pandas as pd

    def extract(batches):
        from etlpy_spark.sources.synthetic_web import parse_page as pp

        for pdf in batches:
            out = {"url": [], "n_links": [], "n_images": []}
            for u, payload in zip(pdf["url"], pdf["payload"]):
                parsed = pp(bytes(payload).decode())
                out["url"].append(u)
                out["n_links"].append(len(parsed["links"]))
                out["n_images"].append(len(parsed["image_ids"]))
            yield pd.DataFrame(out)

    df = read_warc(spark, p).filter("warc_type = 'response'") \
        .mapInPandas(extract, schema="url string, n_links int, n_images int")
    got = {r.url: (r.n_links, r.n_images) for r in df.collect()}
    assert set(got) == set(urls)
    for u in urls:
        assert got[u] == (len(truth[u]["links"]), len(truth[u]["image_ids"]))


def test_archive_replay_crawl_parity(spark, tmp_path):
    """Full crawl from a WARC archive (cfg.archive_path): page HTML and
    image blobs come from the archived segments instead of the live
    fetcher, and the crawl must match the LIVE crawl bitwise — crawl
    order, seen set, and every image row including bytes and pHash. This
    is the Common Crawl workflow: the corpus IS the archive."""
    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls
    from etlpy_spark.sources.warc import archive_synthetic_web

    web = WebConfig(n_hosts=3, n_cats=2, pages_per_cat=6, politeness_budget=2)
    seeds = seed_urls(web, n_per_host=2)
    arc_dir = str(tmp_path / "archive")
    n_recs = archive_synthetic_web(web, arc_dir, segments=3)
    assert n_recs > web.n_hosts * web.n_cats * web.pages_per_cat  # pages + blobs

    live_wd, replay_wd = str(tmp_path / "live"), str(tmp_path / "replay")
    live = SparkCrawler(spark, live_wd, CrawlConfig(web=web))
    live.run(seeds, max_rounds=2)
    replay = SparkCrawler(
        spark, replay_wd,
        CrawlConfig(web=web, archive_path=arc_dir + "/*.warc.gz"),
    )
    replay.run(seeds, max_rounds=2)

    assert replay.crawl_log_list() == live.crawl_log_list()
    live_seen = sorted(r.url for r in live.seen.read().collect())
    replay_seen = sorted(r.url for r in replay.seen.read().collect())
    assert replay_seen == live_seen
    live_imgs = {r.image_id: r for r in live.images.read().collect()}
    replay_imgs = {r.image_id: r for r in replay.images.read().collect()}
    assert set(replay_imgs) == set(live_imgs) and live_imgs
    for iid, a in live_imgs.items():
        b = replay_imgs[iid]
        assert bytes(a.bytes) == bytes(b.bytes), iid
        assert (a.w, a.h, a.fmt, a.phash, a.caption, a.decode_error) == (
            b.w, b.h, b.fmt, b.phash, b.caption, b.decode_error
        ), iid


def test_archive_replay_canonicalizes_dirty_hrefs(spark, tmp_path):
    """Archived pages whose hrefs are non-canonical spellings of the
    synthetic links, with invalid hrefs between them: the fetch task
    canonicalizes every link (``canonicalize_url``'s slow path) and drops
    the invalid ones, so the crawl order and seen set equal the serial
    oracle's over the clean web."""
    from xml.sax.saxutils import quoteattr

    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.crawl.oracle import crawl_oracle
    from etlpy_spark.functions.url import FAST_CANONICAL_RE, canonicalize_url
    from etlpy_spark.sources.synthetic_web import WebConfig, make_url, page, seed_urls

    dirty = [
        lambda u: u.replace("http://", "HTTP://").replace("host", "HoSt"),
        lambda u: u.replace(".example/", ".example:80/"),
        lambda u: u.replace("/cat", "/x/../cat"),
        lambda u: u.replace("/p", "/%70") + "?",
        lambda u: u + "#frag",
    ]
    invalid = ["", "not a url", "mailto:a@host0.example", "/cat0/p1", "http://", "http://[::1"]
    assert all(canonicalize_url(h) is None for h in invalid)
    web = WebConfig(n_hosts=3, n_cats=2, pages_per_cat=6, politeness_budget=2)
    recs = []
    for k in range(web.n_hosts):
        for c in range(web.n_cats):
            for n in range(1, web.pages_per_cat + 1):
                u = make_url(k, c, n)
                hrefs = []
                for i, link in enumerate(page(u, web)["links"]):
                    hrefs += [dirty[(n + i) % len(dirty)](link), invalid[(n + i) % len(invalid)]]
                    assert re.fullmatch(FAST_CANONICAL_RE, hrefs[-2]) is None
                    assert canonicalize_url(hrefs[-2]) == link
                body = "".join(f"<a href={quoteattr(h)}>l</a>" for h in hrefs)
                recs.append({
                    "warc_type": "response", "url": u, "http_status": 200,
                    "http_content_type": "text/html", "date": "2026-01-01T00:00:00Z",
                    "payload": f"<html><body>{body}</body></html>".encode(),
                })
    write_warc(str(tmp_path / "dirty.warc.gz"), recs)

    seeds = seed_urls(web, n_per_host=2)
    oracle = crawl_oracle(seeds, web, max_rounds=3)
    cr = SparkCrawler(
        spark, str(tmp_path / "crawl"),
        CrawlConfig(web=web, archive_path=str(tmp_path / "dirty.warc.gz")),
    )
    cr.run(seeds, max_rounds=3)
    assert cr.crawl_log_list() == oracle.crawl_log
    assert cr.seen_urls_list() == set(oracle.seen)
    assert len(oracle.seen) > len(set(map(canonicalize_url, seeds)))  # links found


def test_warc_to_documents_feeds_corpus_pipeline(spark, tmp_path):
    """WARC → documents → prepare_corpus, end to end: archived pages
    tag-strip to visible text (matching serial html_to_text), and the
    corpus pipeline's annotate/filter stages run over the result."""
    from etlpy_spark.operators.corpus import annotate_corpus
    from etlpy_spark.sources.synthetic_web import WebConfig
    from etlpy_spark.sources.warc import (
        archive_synthetic_web, html_to_text, iter_warc_records, warc_to_documents,
    )

    web = WebConfig(n_hosts=2, n_cats=2, pages_per_cat=5)
    arc_dir = str(tmp_path / "arc")
    archive_synthetic_web(web, arc_dir, segments=2)

    docs = warc_to_documents(spark, arc_dir + "/*.warc.gz")
    rows = {r.url: r.text for r in docs.collect()}
    assert len(rows) == web.n_hosts * web.n_cats * web.pages_per_cat
    # serial replica over the same archive bytes
    import glob as _glob

    serial = {}
    for f in sorted(_glob.glob(arc_dir + "/*.warc.gz")):
        for rec in iter_warc_records(open(f, "rb").read()):
            if rec["warc_type"] == "response":
                serial[rec["url"]] = html_to_text(rec["payload"].decode())
    assert rows == serial
    assert all(t.startswith("http://") for t in rows.values())  # h1 = url text

    ann = annotate_corpus(docs)
    got = ann.select("doc_id", "lang_pred", "quality", "n_tokens").collect()
    assert len(got) == len(rows) and all(r.n_tokens > 0 for r in got)


def test_html_to_text_tolerates_real_world_markup():
    """Most of the web is not XML-clean: unclosed tags, bare ampersands,
    script/style payloads, comments, numeric entities. The fallback
    extractor must still produce the visible text, and the clean-markup
    path must stay on the exact parser."""
    from etlpy_spark.sources.warc import html_to_text

    clean = "<html><body><p>hello <b>world</b></p></body></html>"
    assert html_to_text(clean) == "hello world"
    messy = (
        "<html><head><script>var x = '<p>not text</p>';</script>"
        "<style>p { color: red }</style></head>"
        "<body><!-- comment -->Tom &amp; Jerry &#8212; S1<br>"
        "<p>unclosed paragraph<div>next & bare amp</div>"
    )
    out = html_to_text(messy)
    assert "not text" not in out and "color" not in out and "comment" not in out
    assert "Tom & Jerry" in out and "— S1" in out
    assert "unclosed paragraph" in out and "next & bare amp" in out
    assert html_to_text("") == ""
    # huge numeric entity doesn't crash
    assert html_to_text("<p>x &#999999999; y") .startswith("x")


# -- HTTP wire encodings (chunked / gzip / deflate) ---------------------------


def _chunked(body: bytes, sizes=(7, 11, 64)) -> bytes:
    out, pos, i = bytearray(), 0, 0
    while pos < len(body):
        n = min(sizes[i % len(sizes)], len(body) - pos)
        out += f"{n:x}".encode() + b"\r\n" + body[pos : pos + n] + b"\r\n"
        pos += n
        i += 1
    out += b"0\r\n\r\n"
    return bytes(out)


def _wire_record(body_wire: bytes, headers: dict) -> dict:
    return {"warc_type": "response", "url": "http://w.example/x",
            "date": "2026-01-02T00:00:00Z", "http_status": 200,
            "http_content_type": "text/html", "payload": body_wire,
            "http_headers": headers}


def _roundtrip_one(rec: dict) -> dict:
    from etlpy_spark.sources.warc import _record_bytes, iter_warc_records

    out = [r for r in iter_warc_records(_record_bytes(rec))
           if r["warc_type"] == "response"]
    assert len(out) == 1
    return out[0]


def test_http_chunked_and_content_encodings():
    import zlib

    entity = b"<html><body>" + bytes(range(256)) * 8 + b"</body></html>"
    gz = zlib.compressobj(6, zlib.DEFLATED, 31)
    gzipped = gz.compress(entity) + gz.flush()
    zl = zlib.compress(entity)                      # zlib-wrapped deflate
    raw = zlib.compress(entity)[2:-4]               # raw-DEFLATE servers
    cases = [
        (_chunked(entity), {"Transfer-Encoding": "chunked"}),
        (gzipped, {"Content-Encoding": "gzip"}),
        (gzipped, {"Content-Encoding": "x-gzip"}),
        (zl, {"Content-Encoding": "deflate"}),
        (raw, {"Content-Encoding": "deflate"}),
        (_chunked(gzipped), {"Transfer-Encoding": "chunked",
                             "Content-Encoding": "gzip"}),
    ]
    for wire, hh in cases:
        rec = _roundtrip_one(_wire_record(wire, hh))
        assert rec["payload"] == entity, hh
        assert rec["http_content_encoding"] == ""


def test_http_undecodable_encodings_are_typed_not_fatal():
    body = b"\x0b\x02\x80not really brotli"
    rec = _roundtrip_one(_wire_record(body, {"Content-Encoding": "br"}))
    assert rec["payload"] == body and rec["http_content_encoding"] == "br"
    rec = _roundtrip_one(_wire_record(b"\x1f\x8b garbage",
                                      {"Content-Encoding": "gzip"}))
    assert rec["http_content_encoding"] == "gzip-malformed"
    rec = _roundtrip_one(_wire_record(b"zz\r\nnot hex",
                                      {"Transfer-Encoding": "chunked"}))
    assert rec["http_content_encoding"] == "chunked-malformed"


def test_warc_to_documents_decodes_wire_encodings(spark, tmp_path):
    import zlib

    from etlpy_spark.sources.warc import warc_to_documents, write_warc

    body = "<html><body><p>compressed page text</p></body></html>".encode()
    gz = zlib.compressobj(6, zlib.DEFLATED, 31)
    recs = [
        _wire_record(gz.compress(body) + gz.flush(), {"Content-Encoding": "gzip"}),
        _wire_record(_chunked(body), {"Transfer-Encoding": "chunked"}),
        # an undecodable row must be EXCLUDED from the corpus, not garbled
        _wire_record(b"\x00\x01brotli-ish", {"Content-Encoding": "br"}),
    ]
    for i, r in enumerate(recs):
        r["url"] = f"http://w.example/{i}"
    write_warc(str(tmp_path / "seg.warc.gz"), recs)
    rows = warc_to_documents(spark, str(tmp_path)).orderBy("url").collect()
    assert len(rows) == 2
    assert all(r["text"] == "compressed page text" for r in rows)
