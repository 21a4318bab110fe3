"""The (shard, sub) filter STATE TABLE is the authority (r4 verdict #1):
fold-forward is distributed, probes read the table, untouched pairs carry
forward by hard link, and — the design-point contract — the DRIVER never
collects, folds, or retains filter bytes in steady state."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from etlpy_spark.crawl.filterstate import FilterState, PairFolder, pair_name, read_pair
from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
from etlpy_spark.crawl.seen import BloomFilter, CuckooFilter, filter_spec
from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

WEB = WebConfig(n_hosts=4, n_cats=2, pages_per_cat=8, politeness_budget=2)


def _filter_objects(obj, depth=0):
    """Recursively find BloomFilter/CuckooFilter instances reachable from
    an object's attribute/dict/list graph (bounded depth)."""
    hits = []
    if depth > 3:
        return hits
    if isinstance(obj, (BloomFilter, CuckooFilter)):
        return [obj]
    if isinstance(obj, dict):
        for v in obj.values():
            hits += _filter_objects(v, depth + 1)
    elif isinstance(obj, (list, tuple, set)):
        for v in obj:
            hits += _filter_objects(v, depth + 1)
    elif hasattr(obj, "__dict__") and obj.__class__.__module__.startswith("etlpy_spark"):
        for v in vars(obj).values():
            hits += _filter_objects(v, depth + 1)
    return hits


@pytest.fixture(scope="module")
def crawled(spark):
    wd = tempfile.mkdtemp(prefix="filterstate_")
    cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
    cr.run(seed_urls(WEB, n_per_host=2), max_rounds=2)
    yield cr
    shutil.rmtree(wd, ignore_errors=True)


def test_driver_holds_no_filter_bytes(crawled):
    """Steady state: the crawler object (the driver's handle) reaches NO
    filter instances and no serialized bitsets — geometry + table handles
    only. This is the structural assertion behind the 10^10-URL design
    point: filter residency is on disk + in executor tasks, never on the
    driver."""
    assert _filter_objects(crawled) == []
    # the state handles hold a spec tuple and counts, nothing byte-like
    for state in (crawled.seen_bits, crawled.image_bits):
        for v in vars(state).values():
            assert not isinstance(v, (bytes, bytearray))
            assert not isinstance(v, dict) or not v


def test_state_table_shape_and_meta(crawled):
    """One committed bits file per touched (shard, sub) pair; snapshot
    meta carries total_bytes/n_pairs (what the driver reads for the
    delivery-mode gate — it never opens the files)."""
    for state, n_rows in (
        (crawled.seen_bits, crawled.seen.read().count()),
        (crawled.image_bits, crawled.images.read().count()),
    ):
        assert state.exists() and n_rows > 0
        d = state.latest_dir()
        files = [f for f in os.listdir(d) if f.startswith("bits-")]
        assert 0 < len(files) <= state.n_shards * state.n_sub
        total = sum(os.path.getsize(os.path.join(d, f)) for f in files)
        v = state.table.current_version()
        meta = state.table.snapshot(v).meta
        assert meta["total_bytes"] == total and meta["n_pairs"] == len(files)


def test_no_false_negatives_for_whole_seen_set(crawled):
    """Every committed seen URL / image id must probe maybe-positive in
    its own pair's filter (serial read of the pair files) — the
    no-false-negative contract that lets bloom-negative keys skip the
    exact anti-join."""
    for state, table, col in (
        (crawled.seen_bits, crawled.seen, "url"),
        (crawled.image_bits, crawled.images, "image_id"),
    ):
        keys = [r[col] for r in table.read().select(col).collect()]
        routed = {
            r[col]: (r.s, r.u)
            for r in table.read().select(
                col,
                state.shard_expr(col).alias("s"),
                state.sub_expr(col).alias("u"),
            ).collect()
        }
        d = state.latest_dir()
        cache = {}
        for k in keys:
            s, u = routed[k]
            f = cache.get((s, u))
            if f is None:
                f = cache[(s, u)] = read_pair(d, s, u, state.spec)
            assert f is not None and f.might_contain(k), (k, s, u)


def test_resume_probes_without_rebuild(spark, crawled):
    """A fresh crawler over the same workdir finds the committed state —
    ensure() is a META check, no rebuild job, no new version."""
    cr2 = SparkCrawler(spark, crawled.workdir, CrawlConfig(web=WEB))
    v_before = cr2.seen_bits.table.current_version()
    st = cr2.seen_bits.ensure(cr2.seen, "url")
    assert st.exists() and st.table.current_version() == v_before


def test_fold_forward_carries_untouched_pairs(spark, tmp_path):
    """A round that touches ONE pair must carry every other pair forward
    (hard link — same bytes), and the touched pair's new file must hold
    old + new keys."""
    spec = filter_spec("bloom", 1 << 12, 0.01)
    state = FilterState(spark, str(tmp_path / "bits"), spec,
                        n_shards=4, n_sub=2)
    base = [f"http://h{i}.x/{i}" for i in range(400)]
    state.rebuild_from(
        spark.createDataFrame([(u,) for u in base], "url string"), "url"
    )
    d1 = state.latest_dir()
    files1 = sorted(f for f in os.listdir(d1) if f.startswith("bits-"))
    assert len(files1) == 8  # 400 urls cover all 4x2 pairs

    # fold 3 new keys that all route to one pair — find them serially
    routed = {
        r.url: (r.s, r.u)
        for r in spark.createDataFrame(
            [(f"http://new.x/{i}",) for i in range(200)], "url string"
        ).select(
            "url", state.shard_expr("url").alias("s"), state.sub_expr("url").alias("u")
        ).collect()
    }
    target = routed[next(iter(routed))]
    new_keys = [u for u, p in routed.items() if p == target][:3]
    v, new_dir = state.begin()
    folder = PairFolder(d1, new_dir, spec)
    folder.add(target[0], target[1], new_keys)
    folder.flush()
    state.finish(v, new_dir, d1)

    d2 = state.latest_dir()
    assert d2 != d1
    assert sorted(f for f in os.listdir(d2) if f.startswith("bits-")) == files1
    touched = pair_name(*target)
    for fn in files1:
        a, b = os.path.join(d1, fn), os.path.join(d2, fn)
        if fn == touched:
            assert os.stat(a).st_ino != os.stat(b).st_ino  # rewritten
        else:
            assert os.stat(a).st_ino == os.stat(b).st_ino  # hard-linked
    f = read_pair(d2, target[0], target[1], spec)
    assert all(f.might_contain(k) for k in new_keys)
    # old keys of the touched pair survived the fold
    base_routed = {
        r.url: (r.s, r.u)
        for r in spark.createDataFrame(
            [(u,) for u in base], "url string"
        ).select(
            "url", state.shard_expr("url").alias("s"), state.sub_expr("url").alias("u")
        ).collect()
    }
    old_in_pair = [u for u, p in base_routed.items() if p == target]
    assert old_in_pair and all(f.might_contain(u) for u in old_in_pair)


def test_cuckoo_state_folds_forward(spark, tmp_path):
    """The cuckoo variant folds by fingerprint re-insertion through the
    same pair-file protocol."""
    spec = filter_spec("cuckoo", 1 << 10, 0.01)
    state = FilterState(spark, str(tmp_path / "cbits"), spec,
                        n_shards=2, n_sub=1)
    a = [f"http://a.x/{i}" for i in range(100)]
    b = [f"http://b.x/{i}" for i in range(100)]
    state.rebuild_from(spark.createDataFrame([(u,) for u in a], "url string"), "url")
    v, new_dir = state.begin()
    prev = state.latest_dir()
    routed = {
        r.url: (r.s, r.u)
        for r in spark.createDataFrame([(u,) for u in b], "url string").select(
            "url", state.shard_expr("url").alias("s"), state.sub_expr("url").alias("u")
        ).collect()
    }
    folder = PairFolder(prev, new_dir, spec)
    for (s, u) in {p for p in routed.values()}:
        folder.add(s, u, [k for k, p in routed.items() if p == (s, u)])
    folder.flush()
    state.finish(v, new_dir, prev)
    d = state.latest_dir()
    for keys in (a, b):
        ra = {
            r.url: (r.s, r.u)
            for r in spark.createDataFrame([(u,) for u in keys], "url string").select(
                "url", state.shard_expr("url").alias("s"),
                state.sub_expr("url").alias("u"),
            ).collect()
        }
        for k, (s, u) in ra.items():
            f = read_pair(d, s, u, spec)
            assert f is not None and f.might_contain(k), k


def test_write_partitions_hold_one_pair_each(spark, tmp_path):
    """The write and rebuild jobs' partitioner IS the routing: partition
    ``p`` of ``by_pair`` holds exactly the keys of pair ``p`` (shard
    ``p % S``, sub ``p // S``), so every pair is folded whole by one task
    and every task gets one pair, however the pairs' hashes fall."""
    from pyspark.sql import functions as F

    state = FilterState(spark, str(tmp_path / "bits"), filter_spec("bloom", 1 << 10, 0.01),
                        n_shards=8, n_sub=2)
    keys = spark.createDataFrame([(f"http://h{i % 13}.x/{i}",) for i in range(4000)], "url string")
    rows = state.by_pair(keys, "url").select(
        F.spark_partition_id().alias("p"), F.col("__shard__").alias("s"),
        F.col("__sub__").alias("u"),
    ).groupBy("p", "s", "u").count().collect()
    assert sorted(r.p for r in rows) == list(range(16))
    assert all(r.p == r.s + 8 * r.u for r in rows)
    assert sum(r["count"] for r in rows) == 4000


def test_ensure_rebuilds_a_state_of_the_old_routing(spark, tmp_path, rebuilds):
    """A workdir whose filter state was written under the former xxhash64
    routing (shard ``pmod(xxhash64(key), S)``, sub ``pmod(xxhash64(key,
    7), U)``, no routing in the state's meta) probes its keys in the wrong
    pairs, i.e. has false negatives. A crawler reopened on it rebuilds the
    state once, records the routing, and resumes in parity with the
    serial oracle."""
    from pyspark.sql import functions as F

    from etlpy_spark.crawl.oracle import crawl_oracle

    seeds = seed_urls(WEB, n_per_host=2)
    cr = SparkCrawler(spark, str(tmp_path), CrawlConfig(web=WEB))
    cr.run(seeds, max_rounds=1)
    state = cr.seen_bits
    # rewrite the seen state as the old routing built it
    old = cr.seen.read().select(
        "url",
        F.pmod(F.xxhash64("url"), F.lit(state.n_shards)).alias("s"),
        F.pmod(F.xxhash64("url", F.lit(7)), F.lit(state.n_sub)).alias("u"),
    ).collect()
    v, d = state.begin()
    folder = PairFolder(None, d, state.spec)
    for r in old:
        folder.add(r.s, r.u, [r.url])
    folder.flush()
    state.table.commit_external(v, d, mode="overwrite", meta={
        "total_bytes": sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)),
        "n_pairs": len(os.listdir(d)),
    })
    routed = cr.seen.read().select(
        "url", state.shard_expr("url").alias("s"), state.sub_expr("url").alias("u")
    ).collect()

    def negatives():
        d = state.latest_dir()
        return [r.url for r in routed
                if not (f := read_pair(d, r.s, r.u, state.spec)) or not f.might_contain(r.url)]

    assert negatives(), "the old routing must give false negatives here"

    cr2 = SparkCrawler(spark, str(tmp_path), CrawlConfig(web=WEB))
    cr2.run(None, max_rounds=3)
    assert rebuilds == [state.table.path]
    assert state.table.latest_meta()["routing"] == state.routing
    oracle = crawl_oracle(seeds, WEB, max_rounds=3)
    assert cr2.crawl_log_list() == oracle.crawl_log
    assert cr2.seen_urls_list() == set(oracle.seen)
