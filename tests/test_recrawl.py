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
    cr = drained
    assert cr.forget(["http://host0.example/cat0/p999999"]) == 0


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
