"""Refresh/retraction APIs: ``recrawl`` re-enqueues URLs for refetch
without touching the seen set (it gates discovery, not fetching);
``forget`` retracts seen rows so URLs become discoverable again, and
leaves the shard filters as they are (a forgotten URL stays
filter-positive and the exact anti-join settles it). Composing the two
(purge-and-recrawl) must refetch both the parent page and its forgotten
link while every frontier invariant holds."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
from etlpy_spark.sources.synthetic_web import WebConfig, make_url, page, seed_urls

WEB = WebConfig(n_hosts=2, n_cats=1, pages_per_cat=6, politeness_budget=8,
                max_links=2, max_images=1)


@pytest.fixture(scope="module")
def drained(spark):
    """A crawl run to exhaustion (frontier empty) — recrawled URLs are then
    the only pending work, so the next round's fetches are deterministic."""
    wd = tempfile.mkdtemp(prefix="crawl_recrawl_")
    cr = SparkCrawler(spark, wd, CrawlConfig(web=WEB))
    cr.run(seed_urls(WEB, n_per_host=2), max_rounds=30)
    assert cr.frontier.read().count() == 0, "fixture web must drain"
    yield cr
    shutil.rmtree(wd, ignore_errors=True)


def _fetch_counts(cr):
    urls = [u for _, u in cr.crawl_log_list()]
    return {u: urls.count(u) for u in urls}


def test_recrawl_refetches_without_seen_change(spark, drained):
    cr = drained
    before = _fetch_counts(cr)
    seen_before = cr.seen_urls_list()
    target = cr.crawl_log_list()[0][1]

    assert cr.recrawl([target]) == 1
    assert cr.recrawl([target]) == 0  # already pending → skipped
    rnd = int(cr.state()["round"])
    cr.run(None, max_rounds=rnd + 1)

    after = _fetch_counts(cr)
    assert after[target] == before[target] + 1
    # everything else fetched exactly as often as before; seen set unchanged
    assert {u: n for u, n in after.items() if u != target} == {
        u: n for u, n in before.items() if u != target
    }
    assert cr.seen_urls_list() == seen_before


def test_forget_then_recrawl_rediscovers(spark, drained, rebuilds):
    cr = drained
    # parent page with at least one outgoing link that isn't itself
    before = _fetch_counts(cr)
    parent, link = None, None
    for _, u in cr.crawl_log_list():
        # link must itself have been fetched (robots-allowed), so its
        # refetch-count is observable after rediscovery
        ls = [l for l in page(u, WEB)["links"] if l != u and before.get(l)]
        if ls:
            parent, link = u, ls[0]
            break
    assert parent is not None, "fixture web must contain a linking page"
    bits_version = cr.seen_bits.table.current_version()
    assert cr.forget([link]) == 1
    assert link not in cr.seen_urls_list()
    # the filter state only grows: forget commits no version of it
    assert cr.seen_bits.table.current_version() == bits_version
    # retraction is O(changed): an equality-delete tombstone commit
    # (merge-on-read), never a full-table rewrite
    snap = cr.seen.snapshot(cr.seen.current_version())
    assert snap.delete_dirs and snap.delete_key == "url", (
        "forget must retract via MoR tombstones"
    )

    assert cr.recrawl([parent]) == 1
    rnd = int(cr.state()["round"])
    # round 1, in this process: refetch parent, rediscover link as new;
    # round 2, in a crawler reopened on the workdir: fetch link
    cr.run(None, max_rounds=rnd + 1)
    SparkCrawler(spark, cr.workdir, CrawlConfig(web=WEB)).run(None, max_rounds=rnd + 2)
    assert rebuilds == [], "no round after forget rebuilds a filter state"

    after = _fetch_counts(cr)
    assert after[parent] == before[parent] + 1
    assert after.get(link, 0) == before.get(link, 0) + 1
    assert link in cr.seen_urls_list()  # re-seen on rediscovery
    assert cr.frontier.read().count() == 0  # drained again


def test_forget_unknown_is_noop(spark, drained):
    """A ``forget`` that matches no seen url retracts nothing and commits
    no snapshot."""
    cr = drained
    v = cr.seen.current_version()
    assert cr.forget(["http://host0.example/cat0/p999999"]) == 0
    assert cr.seen.current_version() == v


def test_manifest_live_rows_match_reads(spark, tmp_path):
    """Differential: the live-row count every manifest records (what the
    round reads as ``scheduled`` and ``forget`` as its result, with no
    Spark job) equals the row count a read of the table returns — after
    init, each round, ``recrawl``, ``forget``, a compaction, and in a
    crawler reopened on the workdir."""
    def check(cr, what):
        for t in (cr.frontier, cr.seen):
            assert t.live_rows() == t.read().count(), (what, t.path)

    cfg = CrawlConfig(web=WEB)
    cr = SparkCrawler(spark, str(tmp_path), cfg)
    cr.init_from_seeds(seed_urls(WEB, n_per_host=2))
    check(cr, "init")
    for rnd in range(2):
        pending = cr.frontier.read().count()
        m = cr.run_round()
        assert m["scheduled"] == pending
        check(cr, f"round {rnd}")
    fetched = [u for _, u in cr.crawl_log_list()]
    assert cr.recrawl(fetched[:3]) == 3
    check(cr, "recrawl")
    assert cr.forget(fetched[3:5]) == 2
    check(cr, "forget")
    cr.frontier.compact()
    check(cr, "compaction")
    cr = SparkCrawler(spark, str(tmp_path), cfg)
    check(cr, "reopen")
    cr.run_round()
    check(cr, "round after reopen")


def test_seedless_crawl_runs_recrawled_urls(spark, tmp_path):
    """A crawl opened with no seeds has no seen snapshot yet: ``forget``
    retracts nothing, its first round after ``recrawl`` takes every
    extracted link as new instead of anti-joining against the absent seen
    table, and later rounds run."""
    cr = SparkCrawler(spark, str(tmp_path), CrawlConfig(web=WEB))
    cr.init_from_seeds([])
    assert cr.seen.current_version() is None
    urls = [make_url(1, 0, n) for n in range(1, 7)]  # host1: robots-allowed
    assert cr.forget(urls[:1]) == 0
    assert cr.recrawl(urls) == len(urls)

    m = cr.run_round()
    assert m["fetched"] == len(urls)
    assert sorted(u for _, u in cr.crawl_log_list()) == sorted(urls)
    assert m["new_urls"] > 0
    assert len(cr.seen_urls_list()) == m["new_urls"]

    m2 = cr.run_round()
    assert m2["round"] == 1 and m2["scheduled"] == m["new_urls"]


def test_url_pending_twice_keeps_counts_exact(spark, tmp_path):
    """A url can be pending twice: recrawled while the seen set never held
    it, then rediscovered through a link before its fetch. When the
    per-host budget selects one of its rows, the round's tombstones delete
    both, and every count stays what a read returns: ``scheduled`` is the
    pending row count, ``robots_blocked`` the robots-blocked pending rows,
    the manifest's live rows match the frontier, and the crawl drains."""
    # a backlog of 16 pages a host at 2 fetches a host per round keeps
    # most rounds below the compaction threshold (a compaction recounts)
    web = WebConfig(n_hosts=2, n_cats=1, pages_per_cat=16, politeness_budget=2,
                    max_links=3, max_images=1)
    cr = SparkCrawler(spark, str(tmp_path), CrawlConfig(web=web))
    cr.init_from_seeds([])
    assert cr.recrawl([make_url(k, 0, n) for k in range(2) for n in range(1, 17)]) == 32
    doubled = 0
    for _ in range(20):
        pending = cr.frontier.read()
        n_pending = pending.count()
        doubled = max(doubled, n_pending - pending.select("url").distinct().count())
        base, _ = cr._schedule(int(cr.state()["round"]))
        blocked = base.filter("__blocked__").count()
        base.unpersist()
        m = cr.run_round()
        assert m["scheduled"] == n_pending, m
        assert cr.frontier.live_rows() == cr.frontier.read().count(), m
        if not n_pending:
            break
        assert m["robots_blocked"] == blocked, m
        assert m["deferred"] == n_pending - blocked - m["fetched"], m
    assert doubled > 0, "the web must leave some url pending twice"
    assert m["scheduled"] == 0 and cr.frontier.read().count() == 0


def test_point_path_semantics(spark, tmp_path):
    """``recrawl`` and ``forget`` take a driver-held list: non-canonical
    forms, duplicates and invalid urls collapse to the distinct canonical
    urls; already-pending urls are skipped; the appended rows are ranked
    by url from ``next_discovered_seq``; a call that changes nothing
    commits no snapshot; and every manifest's live rows match a read."""
    def check():
        for t in (cr.frontier, cr.seen):
            if t.current_version() is not None:
                assert t.live_rows() == t.read().count(), t.path

    cr = SparkCrawler(spark, str(tmp_path), CrawlConfig(web=WEB))
    # no frontier yet: an enqueue would commit a state init_from_seeds skips
    with pytest.raises(ValueError):
        cr.recrawl([make_url(1, 0, 1)])
    cr.init_from_seeds([])
    assert cr.forget([make_url(1, 0, 1)]) == 0  # seedless: nothing is seen
    assert cr.seen.current_version() is None
    pending = make_url(1, 0, 3)
    assert cr.recrawl([pending]) == 1
    check()

    st = cr.state()
    seq = int(st["next_discovered_seq"])
    batch = [
        "HTTP://Host1.example:80/cat0/p2", make_url(1, 0, 1) + "#fragment",
        make_url(1, 0, 2), "not a url", pending, make_url(1, 0, 1),
    ]
    assert cr.recrawl(batch) == 2
    check()
    rows = sorted(
        (r.url, r.discovered_seq, r.round, r.lineage_part)
        for r in cr.frontier.read().collect()
    )
    rnd = int(st["round"])
    assert rows == [
        (make_url(1, 0, 1), seq, rnd, -2),
        (make_url(1, 0, 2), seq + 1, rnd, -2),
        (pending, seq - 1, rnd, -2),
    ]
    assert cr.state()["next_discovered_seq"] == seq + 2

    v = cr.frontier.current_version()
    assert cr.recrawl(batch) == 0  # all pending: no snapshot
    assert cr.recrawl([]) == 0
    assert cr.frontier.current_version() == v

    assert cr.run_round()["new_urls"] > 0
    check()
    seen = sorted(cr.seen_urls_list())[0]
    loud = seen.replace("http://host", "HTTP://Host").replace(".example/", ".example:80/")
    assert cr.forget([loud, seen + "#x", "not a url"]) == 1
    assert seen not in cr.seen_urls_list()
    check()
