"""Per-item kernel costs, timed in the driver on samples drawn from the
run's own URLs and image ids (the same functions the engine's UDFs call
per row), and the seen filter's observed false-positive rate."""

from __future__ import annotations

import random
import statistics
import time


def _per_item(fn, items, repeats: int = 3) -> float:
    """Median over ``repeats`` passes of the mean seconds per item."""
    out = []
    for _ in range(repeats):
        t = time.perf_counter()
        for x in items:
            fn(x)
        out.append((time.perf_counter() - t) / max(len(items), 1))
    return statistics.median(out)


def kernel_metrics(web, log_urls: list[str], seeds: list[str], image_ids: list[str],
                   seed: int) -> dict:
    from etlpy_spark.functions.imagecodec import decode_or_error, phash64
    from etlpy_spark.functions.url import canonicalize_url
    from etlpy_spark.sources.synthetic_web import fetch_image, page, parse_page

    rng = random.Random(seed)
    urls = rng.sample(log_urls, min(400, len(log_urls)))
    links = [l for u in urls for l in parse_page(page(u, web)["html"])["links"]]
    raw = links + rng.sample(seeds, min(400, len(seeds)))
    ids = rng.sample(image_ids, min(20, len(image_ids)))
    blobs = [fetch_image(i, web) for i in ids]

    def decode_phash(b):
        px, err = decode_or_error(b)
        if err is None:
            phash64(px)

    return {
        "sources.synthetic_web.fetch_parse_us": (
            1e6 * _per_item(lambda u: parse_page(page(u, web)["html"]), urls), "us"),
        "functions.url.canonicalize_us": (
            1e6 * _per_item(canonicalize_url, raw), "us"),
        "sources.synthetic_web.fetch_image_ms": (
            1e3 * _per_item(lambda i: fetch_image(i, web), ids), "ms"),
        "functions.imagecodec.decode_phash_ms": (
            1e3 * _per_item(decode_phash, blobs), "ms"),
    }


def bloom_metrics(spark, state, web, seen: set, seed: int, n_probe: int = 20_000) -> dict:
    """Probe the seen filter state with URLs of the synthetic page space
    that are not in the seen set: every positive is a false positive.
    Keys are routed to their (shard, sub) filter with the state's own
    Spark expressions, as the engine routes them."""
    import pandas as pd

    from etlpy_spark.crawl.seen import filter_from_bytes
    from etlpy_spark.sources.synthetic_web import make_url

    rng = random.Random(seed + 1)
    space = web.n_hosts * web.n_cats * web.pages_per_cat
    n_probe = min(n_probe, (space - len(seen)) // 2)
    probe: set[str] = set()
    while len(probe) < n_probe:
        u = make_url(rng.randrange(web.n_hosts), rng.randrange(web.n_cats),
                     rng.randrange(1, web.pages_per_cat + 1))
        if u not in seen:
            probe.add(u)
    routed = spark.createDataFrame(
        pd.DataFrame({"url": sorted(probe)}), schema="url string"
    ).select("url", state.shard_expr("url").alias("shard"),
             state.sub_expr("url").alias("sub")).toPandas()
    blobs = state.collect_blobs()
    hits = n = 0
    t_probe = 0.0
    for (shard, sub), grp in routed.groupby(["shard", "sub"]):
        data = blobs.get((int(shard), int(sub)))
        if data is None:
            continue  # no keys in this pair: the engine skips it too
        f = filter_from_bytes(state.spec, data)
        keys = grp["url"].tolist()
        t = time.perf_counter()
        maybe = f.might_contain_many(keys)
        t_probe += time.perf_counter() - t
        hits += int(maybe.sum())
        n += len(keys)
    return {
        "crawl.seen.bloom_probe_ns": (1e9 * t_probe / max(n, 1), "ns"),
        "crawl.seen.bloom_fp_rate": (hits / max(n, 1), "ratio"),
    }
