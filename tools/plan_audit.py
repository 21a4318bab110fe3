"""Regenerate PLANS.md: `.explain("formatted")` audit of the headline
queries, with automated checks of the scale-shaped properties each plan
must exhibit (parquet filter/column pushdown, whole-stage codegen
coverage, broadcast joins for small sides, absence of cartesian
products and single-partition exchanges on big data).

    python tools/plan_audit.py [sf_dir]          # writes PLANS.md

The checks run against the *physical* plan string, so regressions (a
lost pushdown, a join that silently degraded to cartesian) fail loudly
here before they cost anything at scale.
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# (query, what to assert about its physical plan, commentary for the doc)
AUDITS = [
    (
        "pricing_summary",
        dict(requires=["ReadSchema", "codegen id", "HashAggregate"],
             forbids=["CartesianProduct", "BroadcastNestedLoopJoin"]),
        "TPC-H Q1 shape over `lineitem`: only the 5 referenced columns "
        "are read (ReadSchema — column pruning reaches the parquet "
        "scan); partial HashAggregate before the "
        "single-key exchange = map-side combine, so the shuffle carries "
        "one row per (returnflag, linestatus) per task, not per input row.",
    ),
    (
        "topk_window",
        dict(requires=["WindowGroupLimit", "codegen id"],
             forbids=["CartesianProduct"]),
        "Per-group top-k via `row_number` over `Window.partitionBy` — "
        "Spark rewrites the rank filter to `WindowGroupLimit` on BOTH "
        "sides of the exchange, so each map task ships at most k rows "
        "per group into the shuffle; no global sort anywhere.",
    ),
    (
        "groupby_metrics",
        dict(requires=["HashAggregate", "codegen id"],
             forbids=["CartesianProduct", "SinglePartition"]),
        "Multi-metric agg in one pass: count/sum/avg/min/max share one "
        "shuffle; no second scan per metric.",
    ),
    (
        "join_db_tf",
        dict(requires=["BroadcastHashJoin"],
             forbids=["SortMergeJoin", "CartesianProduct"]),
        "JoinDBTF (reference etl.py:646) — the dimension side is "
        "broadcast, so the fact table never shuffles for the join.",
    ),
    (
        "exact_dedup",
        dict(requires=["xxhash64", "WindowGroupLimit"],
             forbids=["CartesianProduct"]),
        "Exact dedup = keep-first per xxhash64(content): the rank filter "
        "compiles to `WindowGroupLimit` BEFORE the exchange — each map "
        "task pre-prunes to one candidate row per hash, so the shuffle "
        "carries one row per distinct content hash (the window form of "
        "map-side combine).",
    ),
    (
        "minhash_lsh_pairs",
        dict(requires=["MapInPandas", "HashAggregate"],
             forbids=["CartesianProduct", "BroadcastNestedLoopJoin"]),
        "MinHash LSH: signatures via numpy mapInPandas (no 64-column "
        "Janino compile), banding explode, equi-self-join on "
        "(band, bucket) — candidate pairs only; exact Jaccard verify on "
        "the distinct candidates. AQE picks broadcast at sf0.01 and "
        "shuffled equi-join at scale; no cross join either way.",
    ),
    (
        "ngram_jaccard_pairs",
        dict(requires=["HashAggregate"],
             forbids=["CartesianProduct", "BroadcastNestedLoopJoin"]),
        "Exact n-gram Jaccard via inverted index: explode shingle "
        "hashes, self-join the posting lists (equi-join on the 8-byte "
        "hash), count shared shingles per pair — work is O(sum posting^2 "
        "per shingle) with size-ratio pruning, never O(n^2) docs.",
    ),
    (
        "embedding_near_dup",
        dict(requires=[],
             forbids=["CartesianProduct", "BroadcastNestedLoopJoin"]),
        "Random-hyperplane LSH bands over bit-signatures block the "
        "candidate space (replaces the r1 sign-prefix blocking and its "
        "recall hole); exact cosine verifies survivors.",
    ),
    (
        "ann_bruteforce",
        dict(requires=["TakeOrderedAndProject"],
             forbids=["CartesianProduct", "SinglePartition"]),
        "Brute-force cosine top-k: per-partition partial top-k feeds "
        "TakeOrderedAndProject — the global sort never materializes; "
        "only k rows per partition reach the driver-side merge.",
    ),
    (
        "text_suite",
        dict(requires=["codegen id"],
             forbids=["BatchEvalPython", "ArrowEvalPython"]),
        "lang-id + quality + token counts + fingerprint in one projection "
        "pass, joined with the Gopher repetition signals (explode + "
        "map-side-combinable hash aggregates keyed by (doc, line|gram)): "
        "100% JVM-side Column expressions — zero Python eval nodes in the "
        "plan, codegen throughout.",
    ),
]


def get_plan(df) -> str:
    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def check(plan: str, spec: dict) -> list[str]:
    errs = []
    for pat in spec.get("requires", []):
        if pat not in plan:
            errs.append(f"MISSING required plan feature: {pat!r}")
    for pat in spec.get("forbids", []):
        if pat in plan:
            errs.append(f"FORBIDDEN plan feature present: {pat!r}")
    return errs


def trim(plan: str, max_lines: int = 40) -> str:
    """Keep the operator tree (the part before the per-node detail dump)
    plus scan detail lines showing pushdown, bounded in length."""
    lines = plan.rstrip().splitlines()
    tree_end = next(
        (i for i, l in enumerate(lines) if not l.strip()), len(lines)
    )
    tree = lines[:tree_end]
    detail = [
        l for l in lines[tree_end:]
        if re.search(r"PushedFilters|ReadSchema|Arguments: .*rows", l)
    ]
    out = tree[:max_lines]
    if len(tree) > max_lines:
        out.append(f"... ({len(tree) - max_lines} more operator lines)")
    keep = [d.strip()[:160] for d in detail[:6]]
    if keep:
        out.append("-- scan details --")
        out.extend(keep)
    return "\n".join(out)


def main() -> int:
    import importlib.util

    from etlpy_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    qs = entry.queries()
    spark = get_spark()

    doc = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        "Regenerated by `python tools/plan_audit.py` (which FAILS if a "
        "required plan property disappears — pushdown, codegen, broadcast "
        "— or a forbidden one appears — cartesian product, "
        "single-partition exchange). Plans below are "
        f"`explain('formatted')` trees at `{SF_DIR}`; the shapes are "
        "data-size independent, which is the point: these are the plans "
        "that run at 100 TB.",
        "",
    ]
    failures = []
    for name, spec_, commentary in AUDITS:
        df = qs[name](spark, SF_DIR)
        # materialize THIS df first (collect, not count — count builds a
        # different plan): under AQE the pre-execution explain is the
        # initial sketch (no codegen ids, no final join strategy); the
        # audit must see the plan that actually ran
        df.collect()
        plan = get_plan(df)
        errs = check(plan, spec_)
        status = "OK" if not errs else "FAIL: " + "; ".join(errs)
        print(f"{name}: {status}")
        if errs:
            failures.append((name, errs))
        doc.append(f"## {name}")
        doc.append("")
        doc.append(commentary)
        doc.append("")
        checks = []
        if spec_.get("requires"):
            checks.append("requires " + ", ".join(f"`{p}`" for p in spec_["requires"]))
        if spec_.get("forbids"):
            checks.append("forbids " + ", ".join(f"`{p}`" for p in spec_["forbids"]))
        doc.append(f"Checked: {'; '.join(checks)} — **{'pass' if not errs else 'FAIL'}**")
        doc.append("")
        doc.append("```")
        doc.append(trim(plan))
        doc.append("```")
        doc.append("")
    doc.append(
        "The crawl engine's plans are round-dynamic (frontier snapshot in, "
        "frontier snapshot out) and are audited structurally in "
        "`etlpy_spark/crawl/frontier.py` docstrings + timed per span via "
        "`perfbench/run.py --trace 1`; its scale-shaped properties (broadcast "
        "robots join, min_by keep-first instead of window sorts, "
        "bloom-short-circuited anti-joins, ranged two-phase global rank, "
        "executor-side parquet for image bytes and the crawl log) are "
        "enforced by tests/test_crawl_parity.py + the scaling evidence in "
        "BENCH/BASELINE.md."
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(doc) + "\n")
    print(f"\nPLANS.md written; {len(AUDITS) - len(failures)}/{len(AUDITS)} audits pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
