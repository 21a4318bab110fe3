"""Output checks: the engine's crawl log, seen set and image rows against
the serial oracle (``crawl/oracle.crawl_oracle``) for the same seed and
round, plus the recrawl/forget invariants. Each check is one counted
operation of the run."""

from __future__ import annotations

import hashlib
import json
import threading


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


class Oracle:
    """``crawl_oracle`` for round 0 on a background thread, so it can run
    while the engine's outputs are read back; ``result`` joins it. Image
    bytes are dropped once computed: the checks compare (id, caption,
    phash)."""

    def __init__(self, seeds: list[str], web):
        self._args = (seeds, web)
        self._out = None
        self._err = None
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self) -> None:
        from etlpy_spark.crawl.oracle import crawl_oracle

        try:
            o = crawl_oracle(*self._args, max_rounds=1)
            self._out = {
                "log": [list(x) for x in o.crawl_log],
                "seen": sorted(o.seen),
                "images": sorted([i, r["caption"], r["phash"]] for i, r in o.images.items()),
                "metrics": o.metrics,
            }
        except Exception as e:  # surfaced by result()
            self._err = e

    def result(self) -> dict:
        self._t.join()
        if self._err is not None:
            raise self._err
        return self._out


def parity_checks(expect: dict, log: list, images: list, metrics: list,
                  perturb: bool = False) -> list[tuple[str, bool]]:
    """Crawl log, image rows and per-round counts against the oracle.
    ``perturb`` alters the oracle's side before hashing, which must show
    up as failed checks."""
    exp_log = expect["log"] + ([[len(expect["log"]), "perturbed"]] if perturb else [])
    seqs = [s for s, _ in log]
    return [
        ("crawl_log", digest(exp_log) == digest([list(x) for x in log])),
        ("fetch_seq_contiguous", seqs == list(range(len(seqs)))),
        ("images", digest(expect["images"]) == digest(sorted(list(r) for r in images))),
        ("round_counts", [
            {k: m[k] for k in ("round", "scheduled", "robots_blocked", "fetched", "new_urls", "new_images")}
            for m in expect["metrics"]
        ] == [
            {k: m[k] for k in ("round", "scheduled", "robots_blocked", "fetched", "new_urls", "new_images")}
            for m in metrics
        ]),
    ]


def churn_checks(expect: dict, seen_after: set, recrawl_batches: list[list[str]],
                 n_recrawl: list[int], forget_batches: list[list[str]],
                 n_forget: list[int]) -> list[tuple[str, bool]]:
    """The recrawl/forget invariants of tests/test_recrawl.py: each call
    returns how many URLs it acted on (fetched URLs are never pending, so
    all recrawl targets enqueue; forget targets are all seen), forgotten
    URLs leave the seen set and nothing else does."""
    gone = {u for b in forget_batches for u in b}
    return [
        ("recrawl_count", n_recrawl == [len(set(b)) for b in recrawl_batches]),
        ("forget_count", n_forget == [len(set(b)) for b in forget_batches]),
        ("forgotten_absent", not (gone & seen_after)),
        ("seen_set", digest(sorted(seen_after)) == digest(sorted(set(expect["seen"]) - gone))),
    ]
