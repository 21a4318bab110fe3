from __future__ import annotations

import pytest

from etlpy_spark.functions.url import canonicalize_url


@pytest.mark.parametrize(
    "dirty,canon",
    [
        ("HTTP://HoSt0.Example/cat1/p9", "http://host0.example/cat1/p9"),
        ("http://host0.example:80/cat1/p12", "http://host0.example/cat1/p12"),
        ("https://host0.example:443/a", "https://host0.example/a"),
        ("https://host0.example:8443/a", "https://host0.example:8443/a"),
        ("http://h.example/x/../cat2/p3", "http://h.example/cat2/p3"),
        ("http://h.example/a/./b", "http://h.example/a/b"),
        ("http://h.example/cat0/p7?", "http://h.example/cat0/p7"),
        ("http://h.example", "http://h.example/"),
        ("http://h.example/%70age", "http://h.example/page"),  # unreserved decoded
        ("http://h.example/a%2Fb", "http://h.example/a/b"),
        ("http://h.example/sp ace", "http://h.example/sp%20ace"),
        ("http://h.example/p#frag", "http://h.example/p"),
        ("http://h.example/p?a=1&b=2", "http://h.example/p?a=1&b=2"),
    ],
)
def test_canonicalize(dirty, canon):
    assert canonicalize_url(dirty) == canon


def test_garbage():
    assert canonicalize_url(None) is None
    assert canonicalize_url("") is None
    assert canonicalize_url("not a url") is None
    assert canonicalize_url("http://") is None


def test_idempotent():
    u = canonicalize_url("HTTP://HoSt0.Example:80/x/../cat1/p9?")
    assert canonicalize_url(u) == u


def test_spark_expr_matches_pure(spark):
    from pyspark.sql import functions as F

    from etlpy_spark.functions.url import canonicalize_url_expr, url_host

    dirty = ["HTTP://HoSt3.Example:80/x/../cat1/p9?", "http://host1.example/%70a b", None]
    df = spark.createDataFrame([(d,) for d in dirty], "raw string")
    rows = df.select(
        canonicalize_url_expr("raw").alias("c"),
    ).withColumn("h", url_host(F.col("c"))).collect()
    assert [r.c for r in rows] == [canonicalize_url(d) for d in dirty]
    assert rows[0].h == "host3.example"
    assert rows[1].h == "host1.example"


def test_fast_canonical_fixed_point():
    """Every string FULL-matching FAST_CANONICAL_RE must be a fixed point of
    canonicalize_url — the crawl canon UDF skips the slow path for them."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etlpy_spark.functions.url import FAST_CANONICAL_RE

    rx = re.compile(FAST_CANONICAL_RE)
    seg = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_~-",
        min_size=1, max_size=8,
    )
    label = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789-", min_size=1, max_size=8)
    urls = st.builds(
        lambda ls, segs, slash: "http://" + ".".join(ls) + "/" + "/".join(segs) + slash,
        st.lists(label, min_size=2, max_size=3),
        st.lists(seg, min_size=0, max_size=4),
        st.sampled_from(["", "/"]),
    )

    @settings(max_examples=300, deadline=None)
    @given(urls)
    def check(u):
        if rx.fullmatch(u):
            assert canonicalize_url(u) == u

    check()
    # the synthetic web's entire URL shape is on the fast path
    assert rx.fullmatch("http://host3.example/cat1/p7")
    # off-path shapes must NOT match (they need the slow path)
    for bad in (
        "HTTP://host3.example/cat1/p7",
        "http://host3.example:80/cat1/p7",
        "http://host3.example/cat1/../p7",
        "http://host3.example/cat1/p7?x=1",
        "http://host3.example/a%20b",
        "http://host3.example",
    ):
        assert not rx.fullmatch(bad)


def test_host_priority_exprs_match_python(spark):
    """host_expr/priority_expr (pure Column, JVM md5) must reproduce
    url_host_of / WebConfig.priority bit-exactly — the crawl's frontier
    rows are built from these expressions."""
    from pyspark.sql import functions as F

    from etlpy_spark.crawl.oracle import url_host_of
    from etlpy_spark.sources.synthetic_web import WebConfig, h64, host_expr, priority_expr

    urls = [
        "http://host0.example/cat1/p1",
        "http://host123.example/cat3/p999",
        "http://other.example/somewhere",
        "http://host5.example/cat1/p2/extra",  # not the synthetic shape
        "http://host7.example/éx",  # non-ASCII
    ]
    web = WebConfig(seed=42)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url",
        host_expr(F.col("url")).alias("h"),
        priority_expr(F.col("url"), web.seed).alias("p"),
    ).collect()
    for r in rows:
        assert r.h == url_host_of(r.url), r.url
        assert r.p == h64("prio|" + r.url, web.seed) % 100, r.url


def test_prase_url_and_para2dict_packaged(spark):
    """The packaged spider helpers (functions/url.py) are generic over
    query-string keys: placeholders come from the TEMPLATE, values from the
    base URL's query; missing params stay literal (reference
    spider.py:109-113 PraseURL / 263-273 Para2Dict semantics)."""
    from pyspark.sql import functions as F

    from etlpy_spark.functions.url import para2dict, prase_url

    df = spark.createDataFrame(
        [
            ("http://s.example/list?cat=shoes&page=7&q=red",),
            ("http://s.example/list?cat=hats",),
            ("http://s.example/plain",),
        ],
        "base string",
    )
    tpl = "http://s.example/view/[cat]/p[page]?hl=[q]"
    got = [r.u for r in df.select(prase_url("base", tpl).alias("u")).collect()]
    assert got == [
        "http://s.example/view/shoes/p7?hl=red",
        "http://s.example/view/hats/p[page]?hl=[q]",  # missing keys literal
        "http://s.example/view/[cat]/p[page]?hl=[q]",  # no query at all
    ]

    hdr = spark.createDataFrame(
        [("Accept: text/html\nHost: example.com",)], "headers string"
    )
    m = {
        r.k: r.v
        for r in hdr.select(F.explode(para2dict("headers")).alias("k", "v")).collect()
    }
    assert m == {"Accept": "text/html", "Host": "example.com"}


def test_canonicalize_rows_matches_pure(spark):
    """The batch canonicalizer (canonicalize_rows, the fast-shape match
    plus the per-row slow path, run in a mapInPandas as the crawl runs it)
    must agree with the pure-Python canonicalizer row-for-row — including
    urls straddling the fast-canonical boundary (uppercase, ports,
    dot-segments, %-escapes, unicode, trailing slash) — and drop exactly
    the urls that do not canonicalize."""
    import pandas as pd

    from etlpy_spark.functions.url import canonicalize_rows, canonicalize_url

    urls = [
        "http://host1.example/cat1/p3",               # fast fixed point
        "http://host1.example/cat1/",                 # trailing slash
        "http://host1.example/",                      # root
        "HTTP://HoSt1.example/cat1/p3",               # case
        "http://host1.example:80/cat1/p3",            # default port
        "http://host1.example/x/../cat1/p3",          # dot segments
        "http://host1.example/%70age",                # unreserved escape
        "http://host1.example/cat1/p3?",              # empty query
        "http://host1.example/cat1/p3?a=1&b=2",       # query kept
        "http://host7.example/éx",                    # non-ASCII
        "https://host1.example/cat1/p3",              # https not in fast re
        "not a url",
        "",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, raw string")
    canon = df.mapInPandas(
        lambda batches: (canonicalize_rows(pdf, "raw", "url") for pdf in batches),
        schema="i long, url string",
    )
    rows = canon.collect()
    got = {r.i: r.url for r in rows}
    assert None not in got.values() and len(got) == len(rows)
    for i, u in enumerate(urls):
        assert got.get(i) == canonicalize_url(u), (u, got.get(i))
    # a frame built from empty lists (a fetch batch without links) has
    # float64 columns
    empty = canonicalize_rows(pd.DataFrame({"i": [], "raw": []}), "raw", "url")
    assert list(empty.columns) == ["i", "url"] and empty.empty
