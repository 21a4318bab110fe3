"""North-rule gate: the distributed crawler must reproduce the serial
reference-semantics oracle exactly — crawl order, URL-seen set, and
image rows (decoded pixels + caption) — under the same seed list and
politeness budget; and resume from snapshots must converge to the same
final state (BASELINE.json north_rule; FIXTURES.md F9)."""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pytest

from etlpy_spark.crawl import filterstate, frontier
from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
from etlpy_spark.crawl.oracle import crawl_oracle
from etlpy_spark.functions.imagecodec import decode, psnr
from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

WEB = WebConfig(n_hosts=6, n_cats=3, pages_per_cat=12, politeness_budget=2, skew_host0=3)
ROUNDS = 3


@pytest.fixture(scope="module")
def oracle():
    return crawl_oracle(seed_urls(WEB, n_per_host=2), WEB, max_rounds=ROUNDS)


@pytest.fixture(scope="module")
def crawler(spark, oracle):
    wd = tempfile.mkdtemp(prefix="crawl_parity_")
    cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
    cr.run(seed_urls(WEB, n_per_host=2), max_rounds=ROUNDS)
    yield cr
    shutil.rmtree(wd, ignore_errors=True)


def test_crawl_order_parity(crawler, oracle):
    assert crawler.crawl_log_list() == oracle.crawl_log


def test_seen_set_parity(crawler, oracle):
    assert crawler.seen_urls_list() == set(oracle.seen)


def test_image_rows_parity(crawler, oracle):
    rows = {r.image_id: r for r in crawler.images.read().collect()}
    assert set(rows) == set(oracle.images)
    for iid, exp in oracle.images.items():
        got = rows[iid]
        assert got.caption == exp["caption"]
        assert (got.w, got.h, got.fmt) == (exp["w"], exp["h"], exp["fmt"])
        assert got.phash == exp["phash"]
        a, b = decode(bytes(got.bytes)), decode(exp["bytes"])
        # all formats here are lossless → exact; ≥40 dB is the lossy gate
        assert np.array_equal(a, b) and psnr(a, b) == float("inf")


def test_crawl_delay_budget_enforced(crawler, oracle):
    """Hosts declaring robots Crawl-delay get a scaled-down per-round
    budget (host_round_budget rule) — host3 declares delay 2 with K=2,
    so it must never be fetched more than once per round; and the oracle
    must agree that the rule actually bound somewhere (host3 fetched)."""
    from collections import Counter

    from etlpy_spark.sources.synthetic_web import host_round_budget

    assert host_round_budget("host3.example", WEB) == 1 < WEB.politeness_budget
    rows = crawler.log.read().select("round", "url").collect()
    per_round = Counter(
        r.round for r in rows if r.url.startswith("http://host3.example/")
    )
    assert per_round and all(v <= 1 for v in per_round.values())


def test_metrics_parity(crawler, oracle):
    got = [
        r.asDict() for r in crawler.metrics.read().orderBy("round").collect()
    ]
    assert got == oracle.metrics


@pytest.mark.parametrize("drop_filter_state", [False, True])
def test_resume_from_checkpoint(spark, oracle, rebuilds, drop_filter_state):
    """Kill after round 2, resume with a fresh crawler instance (fresh
    process semantics: snapshot state only), final state identical. With
    the filter-state tables deleted before the resume, ``ensure`` rebuilds
    each once from its exact table and parity still holds; with them
    kept, nothing is rebuilt."""
    wd = tempfile.mkdtemp(prefix="crawl_resume_")
    try:
        cr1 = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
        cr1.run(seed_urls(WEB, n_per_host=2), max_rounds=2)
        assert int(cr1.state()["round"]) == 2
        del cr1  # "crash"
        states = [os.path.join(wd, d) for d in ("image_bits", "seen_bits")]
        if drop_filter_state:
            for d in states:
                shutil.rmtree(d)
        cr2 = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
        assert cr2.initialized()
        cr2.run(None, max_rounds=ROUNDS)
        assert sorted(rebuilds) == (states if drop_filter_state else [])
        assert cr2.crawl_log_list() == oracle.crawl_log
        assert cr2.seen_urls_list() == set(oracle.seen)
        imgs = {r.image_id for r in cr2.images.read().collect()}
        assert imgs == set(oracle.images)
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_ranged_rank_path_parity(spark, oracle, monkeypatch):
    """RANK_THRESHOLD=0 forces the scalable two-phase range-partitioned rank
    (the 10^10-row form of the global sequence) for fetch_seq AND
    discovered_seq — the crawl order must still match the serial oracle
    bit-for-bit (frontier.global_rank)."""
    monkeypatch.setattr(frontier, "RANK_THRESHOLD", 0)
    wd = tempfile.mkdtemp(prefix="crawl_ranked_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
        cr.run(seed_urls(WEB, n_per_host=2), max_rounds=ROUNDS)
        assert cr.crawl_log_list() == oracle.crawl_log
        assert cr.seen_urls_list() == set(oracle.seen)
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_cuckoo_seen_filter_parity(spark, oracle):
    """The cuckoo seen-filter backend (north_star: "sharded Bloom/cuckoo-
    filter URL-seen set") must be observationally identical to Bloom: the
    fast path only short-circuits definite-negatives, the exact table stays
    the authority, so crawl order / seen set / image ids match the serial
    oracle exactly."""
    wd = tempfile.mkdtemp(prefix="crawl_cuckoo_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB, seen_filter="cuckoo"))
        cr.run(seed_urls(WEB, n_per_host=2), max_rounds=ROUNDS)
        assert cr.crawl_log_list() == oracle.crawl_log
        assert cr.seen_urls_list() == set(oracle.seen)
        got_ids = {r.image_id for r in cr.images.read().select("image_id").collect()}
        assert got_ids == set(oracle.images)
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_sharded_filter_delivery_parity(spark, oracle, monkeypatch):
    """Sharded delivery (forced by a negative FILTER_BROADCAST_MAX_BYTES)
    routes each shard's seen/image bitset to
    exactly its own probe task through a cogroup shuffle — no broadcast of
    the full filter set to every executor (the 10^10-URL shape). The probe
    raises inside the task if it ever receives more than its one (shard,
    sub) bitset row, so green parity here IS the per-task residency
    assertion. Crawl order / seen set / image ids must match the serial
    oracle exactly, bit-for-bit with the broadcast path."""
    monkeypatch.setattr(filterstate, "FILTER_BROADCAST_MAX_BYTES", -1)
    wd = tempfile.mkdtemp(prefix="crawl_sharded_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
        cr.run(seed_urls(WEB, n_per_host=2), max_rounds=ROUNDS)
        assert cr.crawl_log_list() == oracle.crawl_log
        assert cr.seen_urls_list() == set(oracle.seen)
        got_ids = {r.image_id for r in cr.images.read().select("image_id").collect()}
        assert got_ids == set(oracle.images)
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_probe_filters_modes_agree(spark, monkeypatch):
    """FilterState.probe must produce the identical __maybe__ column in
    broadcast and sharded modes, including (shard, sub) pairs with no
    filter yet (definitely-new) — on urls crafted to hit both present
    and absent pairs. Filters are served FROM THE STATE TABLE in both
    modes; the crawler object holds no filter bytes."""
    from pyspark.sql import functions as F

    wd = tempfile.mkdtemp(prefix="probe_modes_")
    try:
        urls = [f"http://host{i % 7}.example/p/{i}" for i in range(500)]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        cfg = CrawlConfig(web=WEB, n_shards=4, n_buckets=8)
        cr = SparkCrawler(spark, wd, cfg)
        state = cr.seen_bits
        # index the first 100 urls of shards 0 and 2 only; every pair of
        # shards 1/3 stays absent → definitely-new
        shard = {
            r["url"]: r["s"]
            for r in df.select(
                "url", state.shard_expr("url").alias("s")
            ).collect()
        }
        indexed = [u for u in urls[:100] if shard[u] in (0, 2)]
        state.rebuild_from(
            spark.createDataFrame([(u,) for u in indexed], "url string"), "url"
        )
        assert state.total_bytes() > 0 and state.exists()
        results = {}
        # the size gate picks the mode: above any total → broadcast,
        # below zero → sharded
        for mode, gate in (("broadcast", 1 << 62), ("sharded", -1)):
            monkeypatch.setattr(filterstate, "FILTER_BROADCAST_MAX_BYTES", gate)
            probed, cleanup = state.probe(df, "url")
            results[mode] = {
                r["url"]: (r["__shard__"], r["__maybe__"]) for r in probed.collect()
            }
            cleanup()
        assert results["broadcast"] == results["sharded"]
        # sanity: every indexed url is maybe-seen, absent shards all-new
        assert all(results["sharded"][u][1] for u in indexed)
        assert not any(
            results["sharded"][u][1] for u in urls if shard[u] in (1, 3)
        )
    finally:
        shutil.rmtree(wd, ignore_errors=True)


# -- executed-plan shape: where the crawl's Python runs ----------------------

_PYTHON_NODES = {"ArrowEvalPythonExec", "MapInPandasExec", "FlatMapCoGroupsInPandasExec"}
# a node below one of these runs in another task than the node above it
_STAGE_EDGES = {
    "ShuffleExchangeExec", "BroadcastExchangeExec", "ShuffleQueryStageExec",
    "BroadcastQueryStageExec", "ReusedExchangeExec",
}


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _plan_children(node) -> list:
    """A physical plan node's children, looking through adaptive plans,
    query stages and cached relations (to the plan that fills the cache)."""
    kind = _kind(node)
    if kind == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if kind.endswith("QueryStageExec"):
        return [node.plan()]
    if kind == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _plan_nodes(spark, plan) -> list:
    """Every node of a physical plan, the plan behind each cache once
    (however many scans read that cache)."""
    identity = spark._jvm.java.lang.System.identityHashCode
    caches, out, todo = set(), [], [plan]
    while todo:
        node = todo.pop()
        if _kind(node) == "InMemoryTableScanExec":
            key = identity(node.relation().cacheBuilder())
            if key in caches:
                continue
            caches.add(key)
        out.append(node)
        todo.extend(_plan_children(node))
    return out


def _same_task_nodes(node) -> list:
    """The nodes below ``node`` that run in the same task as it."""
    out, todo = [], _plan_children(node)
    while todo:
        child = todo.pop()
        if _kind(child) not in _STAGE_EDGES:
            out.append(child)
            todo.extend(_plan_children(child))
    return out


def _scans_table(node, table_dir: str) -> bool:
    if _kind(node) != "FileSourceScanExec":
        return False
    roots = node.relation().location().rootPaths()
    prefix = os.path.join(table_dir, "")
    return any(prefix in roots.apply(i).toString() for i in range(roots.size()))


def _python_nodes(spark, plan) -> list:
    return [n for n in _plan_nodes(spark, plan) if _kind(n) in _PYTHON_NODES]


def _record_write_plans(monkeypatch) -> dict:
    """Patch ``SparkCrawler._write_and_fold`` to keep the executed plan of
    each write-and-fold job, by its stage tag."""
    plans = {}
    write_and_fold = SparkCrawler._write_and_fold

    def recording(self, state, table, rows, key_col, tag, **kw):
        cls = type(rows)
        collect = cls.collect

        def collect_and_record(df):
            out = collect(df)
            plans[tag] = df._jdf.queryExecution().executedPlan()
            return out

        with monkeypatch.context() as m:
            m.setattr(cls, "collect", collect_and_record)
            return write_and_fold(self, state, table, rows, key_col, tag, **kw)

    monkeypatch.setattr(SparkCrawler, "_write_and_fold", recording)
    return plans


@pytest.mark.parametrize("delivery", ["broadcast", "sharded"])
def test_probe_runs_once_and_never_over_exact_tables(spark, monkeypatch, delivery):
    """``FilterState.new_rows`` probes each deduplicated key once: in the
    executed seen and image writes of a steady WEB round, in either
    delivery mode, exactly one node evaluates the filter probe, and no
    Python node runs in the same task as a scan of the exact ``seen`` or
    ``images`` table (a probe copied onto those scans runs over every key
    the table holds)."""
    if delivery == "sharded":
        monkeypatch.setattr(filterstate, "FILTER_BROADCAST_MAX_BYTES", -1)
    probe_fn = {"broadcast": "maybe(", "sharded": "probe_pair("}[delivery]
    wd = tempfile.mkdtemp(prefix=f"probe_plan_{delivery}_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
        cr.init_from_seeds(seed_urls(WEB, n_per_host=2))
        cr.run_round()
        assert cr.images.current_version() is not None
        plans = _record_write_plans(monkeypatch)
        m = cr.run_round()
        assert m["new_urls"] > 0 and m["new_images"] > 0
        exact = [os.path.join(wd, "seen"), os.path.join(wd, "images")]
        for tag in ("seen", "images"):
            py = _python_nodes(spark, plans[tag])
            probes = [n for n in py if probe_fn in n.simpleString(25)]
            assert len(probes) == 1, (tag, [n.simpleString(25) for n in py])
            for node in py:
                below = _same_task_nodes(node)
                assert not any(_scans_table(b, d) for b in below for d in exact), (
                    tag, node.simpleString(25)
                )
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_canonicalization_is_one_python_node(spark, monkeypatch):
    """Seeds are canonicalized by one Python node (a ``mapInPandas`` that
    also drops invalid urls), not a UDF that Catalyst evaluates once for
    the null filter and again for the value. ``recrawl`` and ``forget``
    canonicalize their lists on the driver, so their one lookup job's
    plan holds no Python node."""
    wd = tempfile.mkdtemp(prefix="canon_plan_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
        seed_plans = []
        commit_seen = SparkCrawler._commit_seen

        def recording(self, rows):
            seed_plans.append(rows._jdf.queryExecution().executedPlan())
            return commit_seen(self, rows)

        monkeypatch.setattr(SparkCrawler, "_commit_seen", recording)
        cr.init_from_seeds(seed_urls(WEB, n_per_host=2))
        assert len(seed_plans) == 1
        assert len(_python_nodes(spark, seed_plans[0])) == 1

        lookups = []
        cls = type(spark.range(1))
        collect = cls.collect

        def collect_and_record(df):
            out = collect(df)
            lookups.append(df._jdf.queryExecution().executedPlan())
            return out

        with monkeypatch.context() as m:
            m.setattr(cls, "collect", collect_and_record)
            assert cr.recrawl(["HTTP://Host1.example:80/cat0/p1", "not a url"]) == 1
            assert cr.forget(["HTTP://HOST1.example:80/cat1/p9#top"]) == 1
        assert len(lookups) == 2
        assert [_python_nodes(spark, p) for p in lookups] == [[], []]
        assert "http://host1.example/cat0/p1" in {
            r.url for r in cr.frontier.read().collect()
        }
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_unsupported_codec_skip_with_reason(spark):
    """A real crawl meets blobs the engine refuses (malformed files,
    codecs it lacks): those must land as decode_error rows — dims/phash
    NULL, fmt from the magic sniff, bytes kept — never as a task failure
    that aborts the round, and the serial oracle must produce the
    identical rows. The test blob is a baseline scan layout under an SOF2
    header — structurally corrupt now that real progressive files decode."""
    web = WebConfig(
        n_hosts=4, n_cats=2, pages_per_cat=8, politeness_budget=2,
        unsupported_every=3,
    )
    oracle = crawl_oracle(seed_urls(web, n_per_host=2), web, max_rounds=3)
    bad = {i for i, v in oracle.images.items() if v["decode_error"]}
    ok = set(oracle.images) - bad
    assert bad and ok, "fixture must contain BOTH decodable and refused blobs"
    assert all(
        v["decode_error"].startswith("ValueError")
        and v["phash"] is None and v["w"] is None and v["fmt"] == "jpg"
        for v in oracle.images.values() if v["image_id"] in bad
    )
    wd = tempfile.mkdtemp(prefix="crawl_unsup_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=web))
        cr.run(seed_urls(web, n_per_host=2), max_rounds=3)
        assert cr.crawl_log_list() == oracle.crawl_log
        rows = {r.image_id: r for r in cr.images.read().collect()}
        assert set(rows) == set(oracle.images)
        for iid, exp in oracle.images.items():
            got = rows[iid]
            assert (got.w, got.h, got.fmt, got.phash, got.decode_error) == (
                exp["w"], exp["h"], exp["fmt"], exp["phash"], exp["decode_error"]
            ), iid
            assert bytes(got.bytes) == exp["bytes"]
    finally:
        shutil.rmtree(wd, ignore_errors=True)


@pytest.mark.parametrize("lossy_fmt", ["y4m", "jpg", "jpgp"])
def test_lossy_format_crawl_psnr_gate(spark, lossy_fmt):
    """North-rule lossy branch: with the web serving a genuinely lossy
    image container (``y4m`` = single-frame YUV4MPEG2 C444, BT.601
    rounding loss; ``jpg`` = real baseline JFIF with quantized-DCT loss,
    functions/jpegcodec.py), the crawl must still match the serial oracle
    bitwise (same codec both sides), AND every stored image must decode to
    within PSNR ≥ 40 dB of the ORIGINAL rendered pixels, with caption
    equality."""
    from etlpy_spark.functions.imagecodec import caption_for, render_pixels

    web = WebConfig(
        n_hosts=4, n_cats=2, pages_per_cat=10, politeness_budget=2,
        skew_host0=2, force_fmt=lossy_fmt,
    )
    orc = crawl_oracle(seed_urls(web, n_per_host=2), web, max_rounds=2)
    wd = tempfile.mkdtemp(prefix="crawl_lossy_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=web))
        cr.run(seed_urls(web, n_per_host=2), max_rounds=2)
        assert cr.crawl_log_list() == orc.crawl_log
        rows = {r.image_id: r for r in cr.images.read().collect()}
        assert rows and set(rows) == set(orc.images)
        for iid, got in rows.items():
            exp = orc.images[iid]
            assert got.fmt == lossy_fmt == exp["fmt"]
            assert got.caption == exp["caption"] == caption_for(iid, web.seed)
            assert bytes(got.bytes) == exp["bytes"]  # same decoder → bitwise
            px = decode(bytes(got.bytes))
            orig = render_pixels(iid, web.seed, web.dim_scale)
            assert px.shape == orig.shape
            p = psnr(px, orig)
            assert p != float("inf") and p >= 40.0  # lossy, over the gate
            assert got.phash == exp["phash"]
    finally:
        shutil.rmtree(wd, ignore_errors=True)


@pytest.mark.parametrize("fmt", ["bmp", "gif", "webp"])
def test_bmp_gif_format_crawl_parity(spark, fmt):
    """Round-4 containers on the crawl path end-to-end: with the web
    serving BMP or WebP-VP8L (lossless — decoded pixels must equal the
    rendered originals exactly) or GIF (palette format — the cube quantization is
    deterministic, so the crawl still matches the serial oracle bitwise
    and pHash-exactly; PSNR is finite but not gated, a format property
    documented in functions/gifcodec.py)."""
    from etlpy_spark.functions.imagecodec import render_pixels

    web = WebConfig(
        n_hosts=3, n_cats=2, pages_per_cat=8, politeness_budget=2,
        skew_host0=2, force_fmt=fmt,
    )
    orc = crawl_oracle(seed_urls(web, n_per_host=2), web, max_rounds=2)
    wd = tempfile.mkdtemp(prefix=f"crawl_{fmt}_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=web))
        cr.run(seed_urls(web, n_per_host=2), max_rounds=2)
        assert cr.crawl_log_list() == orc.crawl_log
        rows = {r.image_id: r for r in cr.images.read().collect()}
        assert rows and set(rows) == set(orc.images)
        for iid, got in rows.items():
            exp = orc.images[iid]
            assert got.fmt == fmt == exp["fmt"]
            assert bytes(got.bytes) == exp["bytes"]  # same codec → bitwise
            assert got.phash == exp["phash"] and got.decode_error is None
            px = decode(bytes(got.bytes))
            orig = render_pixels(iid, web.seed, web.dim_scale)
            assert px.shape == orig.shape
            if fmt in ("bmp", "webp"):
                assert np.array_equal(px, orig)  # lossless containers
            else:
                assert psnr(px, orig) > 20.0  # deterministic cube quantizer
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_rollback_time_travel(spark):
    """Snapshot tables support time travel: after 3 rounds, the round-1
    frontier is still readable (per-round lineage, north_rule)."""
    wd = tempfile.mkdtemp(prefix="crawl_tt_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
        cr.run(seed_urls(WEB, n_per_host=2), max_rounds=ROUNDS)
        hist = cr.frontier.history()
        # init + one per round, plus any auto-compaction snapshots (which
        # re-carry the round's meta); every round's state must be present
        rounds_seen = [s.meta.get("round") for s in hist]
        assert set(range(ROUNDS + 1)) <= set(rounds_seen)
        assert len(hist) >= ROUNDS + 1
        v1 = next(s.version for s in hist if s.meta.get("round") == 1)
        old = cr.frontier.read(version=v1)
        assert cr.frontier.snapshot(v1).meta["round"] == 1
        assert old.count() > 0
        # storage schema is derivable-column-free; read_frontier re-derives
        assert {"url", "discovered_seq", "round", "lineage_part"} == set(old.columns)
        assert {"url", "host", "priority", "discovered_seq"} <= set(
            cr.read_frontier().columns
        )
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def _job_count(sc, name: str, fn, *args):
    """``fn(*args)`` and the number of Spark jobs it ran."""
    group = f"{name}-{os.urandom(4).hex()}"
    sc.setJobGroup(group, name)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_steady_round_job_count(spark):
    """Per-call fixed cost is Spark jobs, and no job only counts: a steady
    WEB round (seen table and filter state already committed, frontier
    compaction included) runs at most 25 of them; a ``recrawl`` runs one
    (the filtered scan of the frontier; its rows are written in-process),
    a ``forget`` one (the filtered scan of ``seen``; its tombstones are
    written in-process) and a ``forget`` that compacts ``seen`` at most 5.
    Each new url is written by one job (the seen write-and-fold, whose
    data dir the frontier appends), every layout-table read takes its
    declared schema, so no read runs a schema-inference job, and every
    count comes from a write or a snapshot manifest. (One of the round's
    jobs broadcasts the fetched urls, so its tombstones can name every
    row of a url pending twice.)"""
    sc = spark.sparkContext
    wd = tempfile.mkdtemp(prefix="crawl_jobs_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
        cr.init_from_seeds(seed_urls(WEB, n_per_host=2))
        cr.run_round()
        m, n_jobs = _job_count(sc, "steady WEB round", cr.run_round)
        assert m["round"] == 1 and m["fetched"] > 0 and m["new_urls"] > 0
        assert 0 < n_jobs <= 25, n_jobs

        fetched = [u for _, u in cr.crawl_log_list()]
        n, n_jobs = _job_count(sc, "recrawl", cr.recrawl, fetched[:4])
        assert n == 4 and n_jobs == 1, (n, n_jobs)
        seen = sorted(cr.seen_urls_list())
        v = cr.seen.current_version()
        n, n_jobs = _job_count(sc, "forget", cr.forget, seen[:1])
        assert cr.seen.snapshot(cr.seen.current_version()).mode == "append"
        assert cr.seen.current_version() == v + 1
        assert n == 1 and n_jobs == 1, (n, n_jobs)
        # enough urls to trip seen's compaction, the costlier forget
        n, n_jobs = _job_count(sc, "forget", cr.forget, seen[1:13])
        assert cr.seen.snapshot(cr.seen.current_version()).mode == "overwrite"
        assert n == 12 and 0 < n_jobs <= 5, (n, n_jobs)
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_shared_data_dirs_survive_either_compaction(spark):
    """The frontier's per-round appends are the seen table's data dirs, so
    neither table's compaction may touch the other's view. Forgetting
    enough seen urls compacts ``seen``; the pending frontier is unchanged,
    and a frontier compaction leaves the seen set unchanged. The
    forgotten urls are ones no later-fetched page links to, so the
    following rounds still match the serial oracle: the same crawl log,
    and its seen set minus the forgotten urls."""
    from etlpy_spark.functions.url import canonicalize_url
    from etlpy_spark.sources.synthetic_web import page

    seeds = seed_urls(WEB, n_per_host=2)
    total = ROUNDS + 2
    before = crawl_oracle(seeds, WEB, max_rounds=2)
    full = crawl_oracle(seeds, WEB, max_rounds=total)
    later = [u for _, u in full.crawl_log[len(before.crawl_log):]]
    relinked = {canonicalize_url(l) for u in later for l in page(u, WEB)["links"]}
    forgotten = sorted(set(before.seen) - relinked)
    wd = tempfile.mkdtemp(prefix="crawl_shared_")
    try:
        cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
        cr.run(seeds, max_rounds=2)

        def pending():
            return {(r.url, r.discovered_seq) for r in cr.frontier.read().collect()}

        frontier_before = pending()
        assert cr.forget(forgotten) == len(forgotten)
        snap = cr.seen.snapshot(cr.seen.current_version())
        assert snap.mode == "overwrite" and not snap.delete_dirs, (
            "the forget must trip seen's compaction"
        )
        assert pending() == frontier_before
        seen_before = cr.seen_urls_list()
        assert seen_before == set(before.seen) - set(forgotten)

        v = cr.frontier.compact()
        assert cr.frontier.snapshot(v).mode == "overwrite"
        assert cr.seen_urls_list() == seen_before
        assert pending() == frontier_before

        cr.run(None, max_rounds=total)
        assert cr.crawl_log_list() == full.crawl_log
        assert cr.seen_urls_list() == set(full.seen) - set(forgotten)
    finally:
        shutil.rmtree(wd, ignore_errors=True)
