"""Workload definitions. A workload is a synthetic-web shape plus a seed
count per host; ``--seed`` feeds ``WebConfig.seed`` and so both the seed
list and every page, link and image.

Sizes are set so one run (Spark start, init, one timed round, the churn
calls, the oracle and the output checks) takes at most about a minute on a
4-core host, where a round of a few dozen URLs already costs 9-23 s,
depending on the host's speed. What each workload's round spends its time
on is measured in perfbench/README.md."""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class Workload:
    name: str
    web: dict
    seeds_per_host: int
    # URLs recrawled (over all recrawl() calls) and forgotten after the
    # timed round
    churn: int = 20


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "frontier_bulk",
            # ~4.5k fetches and ~7.6k new URLs a round; 80 seeds/host puts
            # the round's tombstones at ~0.37 of live frontier rows, past
            # the 0.3 compaction threshold
            dict(n_hosts=130, n_cats=4, pages_per_cat=2000, politeness_budget=40,
                 max_links=3, max_images=1, skew_host0=8, image_universe=390),
            seeds_per_host=80,
        ),
        Workload(
            "image_merge",
            # ~300 new 512 px PNGs a round
            dict(n_hosts=14, n_cats=6, pages_per_cat=400, politeness_budget=24,
                 max_links=1, max_images=2, image_universe=10_000_000,
                 dim_scale=4, force_fmt="png"),
            seeds_per_host=24,
        ),
    ]
}


def tiny(w: Workload) -> Workload:
    """A few-host version of ``w`` for checking the benchmark itself."""
    web = dict(w.web, n_hosts=max(3, w.web["n_hosts"] // 25))
    if "image_universe" in web and web["image_universe"] < 100_000:
        web["image_universe"] = max(50, web["image_universe"] // 25)
    return replace(w, web=web, seeds_per_host=min(w.seeds_per_host, 8), churn=3)
