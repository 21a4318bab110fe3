"""Run a self-contained synthetic crawl end-to-end and print per-round
metrics — the quickest way to drive the frontier engine by hand:

    python -m etlpy_spark.crawl [--hosts 24] [--rounds 3] [--cpus 8]
                                [--seeds-per-host 2] [--verify-oracle]

Crawls the deterministic synthetic web (sources/synthetic_web.py) into a
temp workdir: frontier scheduling, robots + politeness budgets, URL-seen
filters, image decode/pHash/merge — the full engine, no network, no
external state. ``--verify-oracle`` additionally runs the serial
reference-semantics oracle and asserts crawl-order + seen-set parity
(the north-rule gate, same check as tests/test_crawl_parity.py).
"""

from __future__ import annotations

import argparse
import shutil
import tempfile
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--hosts", type=int, default=24)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--seeds-per-host", type=int, default=2)
    ap.add_argument("--pages-per-cat", type=int, default=40)
    ap.add_argument("--verify-oracle", action="store_true")
    ap.add_argument("--workdir", default=None,
                    help="keep tables here instead of a deleted tempdir")
    args = ap.parse_args()

    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.session import get_spark
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

    web = WebConfig(
        n_hosts=args.hosts, n_cats=3, pages_per_cat=args.pages_per_cat,
        politeness_budget=8, max_links=3, max_images=1, skew_host0=2,
        image_universe=5_000,
    )
    seeds = seed_urls(web, n_per_host=args.seeds_per_host)
    spark = get_spark(
        app_name="etlpy-crawl-demo", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    wd = args.workdir or tempfile.mkdtemp(prefix="crawl_demo_")
    try:
        cr = SparkCrawler(
            spark, wd,
            CrawlConfig(web=web, n_shards=8, n_buckets=args.cpus),
        )
        t0 = time.time()
        metrics = cr.run(seeds, max_rounds=args.rounds)
        dt = time.time() - t0
        fetched = images = 0
        for m in metrics:
            print(
                f"round {m['round']}: fetched={m['fetched']} "
                f"new_urls={m.get('new_urls', '?')} new_images={m.get('new_images', '?')}"
            )
            fetched += m.get("fetched", 0)
            images += m.get("new_images", 0)
        print(
            f"total: {fetched} pages, {images} images in {dt:.1f}s "
            f"({fetched / dt:.0f} URLs/s) — tables in {wd}"
        )
        if args.verify_oracle:
            from etlpy_spark.crawl.oracle import crawl_oracle

            orc = crawl_oracle(seeds, web, max_rounds=args.rounds)
            ok_log = cr.crawl_log_list() == orc.crawl_log
            ok_seen = cr.seen_urls_list() == set(orc.seen)
            print(f"oracle parity: crawl_log={'OK' if ok_log else 'MISMATCH'} "
                  f"seen_set={'OK' if ok_seen else 'MISMATCH'}")
            if not (ok_log and ok_seen):
                return 1
        return 0
    finally:
        if args.workdir is None:
            shutil.rmtree(wd, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
