#!/usr/bin/env python3
"""Crawl benchmark: drives the public crawl API (``SparkCrawler``) on one
workload from a single driver process on ``local[nproc]`` and prints every
metric by name with its unit; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

    python3 perfbench/run.py --workload frontier_bulk --seed 1 --seconds 10 --trace 0

A run: start Spark and init the crawler from the workload's seeds
(together ``setup_s``); then the timed section, a fixed amount of work:
one round (round 0) followed by three ``recrawl()`` calls and two
``forget()`` calls; then the serial oracle and the output checks. The
timed work is the same whatever the engine's speed, so two commits are
measured on the same workload; at the workload sizes here it lasts longer
than ``--seconds``.
``--trace 1`` wraps the engine's public calls in spans and reports the
per-layer metrics instead of the end-to-end ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from checks import Oracle, churn_checks, parity_checks  # noqa: E402
from probes import (RssPeak, cpu_delta, cpu_probe_ms, dir_bytes, host_stat,  # noqa: E402
                    now, tree_sample, weather)
from workloads import WORKLOADS, tiny  # noqa: E402

# opt-in engine modes the benchmark does not measure
REFUSED_ENV = ("ETLPY_CRAWL_OVERLAP", "ETLPY_DAEMON_PRELOAD", "ETLPY_IO_CODEC")
TABLES = ("frontier", "seen", "crawl_log", "images")
# recrawl_s and forget_s are medians over several calls: a lone 2-5 s
# call spreads too much from run to run (whether a Python worker has to
# be forked for it is one source)
RECRAWL_CALLS = 3
FORGET_CALLS = 2

END_TO_END = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "images_per_s": "1/s",
    "round_s": "s",
    "recrawl_s": "s",
    "forget_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="the timed work is fixed (one round and the churn calls); "
                         "at these workload sizes it lasts longer than this")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="few-host workload, for checking the benchmark itself")
    ap.add_argument("--perturb-oracle", action="store_true",
                    help="alter the oracle's crawl log: the checks must fail")
    return ap.parse_args(argv)


class Ops:
    """Counts operations (rounds, recrawl/forget calls, output checks) and
    the ones that failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def call(self, what: str, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            print(f"op failed: {what}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {name}", file=sys.stderr)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers below it, and
    wait until every one of those processes has ended."""
    kids = [p for p in tree_sample()["pids"] if p != os.getpid()]
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in kids) and time.time() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse_args(argv)
    bad = [v for v in REFUSED_ENV if os.environ.get(v)]
    if bad:
        print(f"refusing to run with {', '.join(bad)} set", file=sys.stderr)
        return 2

    # everything the run writes (Spark scratch, JVM and Python temp files,
    # crawl tables) stays under the checkout and is removed at the end
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # JVMs write perf-data files to the system temp dir unless told not to
    # (the driver JVM through extraJavaOptions below, the launcher here)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        return run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # kept when it holds spans
        except OSError:
            pass


def run(args, work: str, tmp: str) -> int:
    from etlpy_spark.session import get_spark
    from etlpy_spark.sources.synthetic_web import WebConfig, seed_urls

    wl = WORKLOADS[args.workload]
    if args.tiny:
        wl = tiny(wl)
    ncores = len(os.sched_getaffinity(0))
    web = WebConfig(seed=args.seed, **wl.web)
    seeds = seed_urls(web, n_per_host=wl.seeds_per_host)
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    ops = Ops()
    host0 = host_stat()
    probe_ms = cpu_probe_ms()  # before Spark starts, with nothing of the run beside it

    t = now()
    spark = get_spark(
        app_name="perfbench", master=f"local[{ncores}]", shuffle_partitions=ncores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = now() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext, wl.name, run_id, ncores)
            tracer.install()
        try:
            res = crawl(args, wl, web, seeds, spark, work, ncores, ops, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        wx = dict(weather(host0, host_stat()), cpu_probe_ms=probe_ms)
    finally:
        stop_spark(spark)
    if res is None:
        return 1
    res["setup_s"] += session_s
    for name, ok in res["checks"](res["oracle"].result()):
        ops.check(name, ok)

    m = res["round_metrics"]
    rounds_line = [{k: m[k] for k in ("round", "scheduled", "robots_blocked", "fetched",
                                      "new_urls", "new_images")}]
    print(f"workload {wl.name} seed {args.seed} trace {args.trace} cores {ncores} "
          f"round_s_samples 1 timed_s {res['timed_s']!r}")
    print("rounds " + json.dumps(rounds_line))
    print("weather " + json.dumps(wx))
    if args.trace:
        metrics = res["layer"]
        metrics.update({
            "host.steal_pct": (wx["steal_pct"], "%"),
            "host.iowait_pct": (wx["iowait_pct"], "%"),
            "host.others_pct": (wx["others_pct"], "%"),
            "host.load1_start": (wx["load1_start"], "count"),
            "host.load1_end": (wx["load1_end"], "count"),
            "host.cpu_probe_ms": (wx["cpu_probe_ms"], "ms"),
        })
        spans_dir = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, run_id + ".jsonl"))
        print(f"spans {os.path.relpath(os.path.join(spans_dir, run_id + '.jsonl'), ROOT)}")
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        out = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    error_rate = ops.failed / max(ops.attempted, 1)
    for k, v in out.items():
        print(f"metric {k} {v['value']!r} {v['unit']}")
    print(f"metric error_rate {error_rate!r} ratio")
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": out}))
    return 0


def crawl(args, wl, web, seeds, spark, work, ncores, ops, tracer):
    from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler

    wd = os.path.join(work, "crawl")
    cr = SparkCrawler(spark, wd, CrawlConfig(web=web, n_buckets=ncores))

    t = now()
    cr.init_from_seeds(seeds)
    setup_s = now() - t

    # -- timed section: round 0, then the recrawl and forget calls
    if tracer:
        tracer.phase = "timed"
    bytes0 = {tb: dir_bytes(os.path.join(wd, tb)) for tb in TABLES}
    v0 = cr.frontier.current_version()
    cpu = {"driver": 0.0, "jvm": 0.0, "python": 0.0}

    def timed(what, fn, *a):
        p0, t0 = tree_sample(), now()
        r = ops.call(what, fn, *a)
        dt = now() - t0
        for k, v in cpu_delta(p0, tree_sample()).items():
            cpu[k] += v
        return r, dt

    with RssPeak() as rss:
        m, round_s = timed("round 0", cr.run_round)
        if m is None:
            return None
        if tracer:
            tracer.phase = "between"
        written = {tb: dir_bytes(os.path.join(wd, tb)) - bytes0[tb] for tb in TABLES}
        # tombstones per live frontier row, the highest any snapshot of the
        # round reached (compaction resets it within the same commit)
        stats = [cr.frontier.snapshot(v).mor_stats or {"data": 1, "tomb": 0}
                 for v in range(v0 + 1, cr.frontier.current_version() + 1)]
        tomb_ratio = max(st["tomb"] / max(st["data"] - st["tomb"], 1) for st in stats)
        filter_bytes = {"seen": cr.seen_bits.total_bytes(), "image": cr.image_bits.total_bytes()}

        log = cr.crawl_log_list()
        rng = random.Random(args.seed)
        recrawl_urls = rng.sample([u for _, u in log], min(wl.churn, m["fetched"]))
        forget_urls = rng.sample(sorted(cr.seen_urls_list() - set(recrawl_urls)), wl.churn)

        if tracer:
            tracer.phase = "timed"
        batches = [recrawl_urls[i::RECRAWL_CALLS] for i in range(RECRAWL_CALLS)]
        n_recrawl, recrawl_walls = zip(*(timed("recrawl", cr.recrawl, b) for b in batches))
        forget_batches = [forget_urls[i::FORGET_CALLS] for i in range(FORGET_CALLS)]
        n_forget, forget_walls = zip(*(timed("forget", cr.forget, b) for b in forget_batches))
    timed_s = round_s + sum(recrawl_walls) + sum(forget_walls)
    if tracer:
        tracer.phase = "probe"

    # -- outside the timed section: the oracle runs on a driver thread while
    # the engine's outputs are read back and Spark stops; the checks follow
    oracle = Oracle(seeds, web)
    images = [(r.image_id, r.caption, r.phash) for r in
              cr.images.read().select("image_id", "caption", "phash").collect()]
    seen_after = cr.seen_urls_list()

    res = {
        "setup_s": setup_s,
        "urls_per_s": m["fetched"] / round_s,
        "images_per_s": m["new_images"] / round_s,
        "round_s": round_s,
        "recrawl_s": statistics.median(recrawl_walls),
        "forget_s": statistics.median(forget_walls),
        "cpu_s": sum(cpu.values()),
        "peak_rss_mb": rss.peak / 2**20,
        "timed_s": timed_s,
        "round_metrics": m,
        "oracle": oracle,
        "checks": lambda expect: [
            *parity_checks(expect, log, images, [m], args.perturb_oracle),
            *churn_checks(expect, seen_after, batches, list(n_recrawl),
                          forget_batches, list(n_forget)),
        ],
    }
    if tracer:
        # the probes time kernels in this process: no oracle thread beside them
        oracle.result()
        res["layer"] = layer_metrics(args, web, seeds, spark, cr, tracer, log, images,
                                     seen_after, m, written, tomb_ratio, filter_bytes,
                                     round_s)
    return res


def layer_metrics(args, web, seeds, spark, cr, tracer, log, images, seen_after,
                  round_m, written, tomb_ratio, filter_bytes, round_s) -> dict:
    from kernels import bloom_metrics, kernel_metrics

    # the rebuild a round after forget() would start with, run here as a
    # probe so the timed round stays oracle-checkable
    cr.seen_bits.rebuild_from(cr.seen.read(), "url")
    m = tracer.layer_metrics()
    for k in ("fetched", "scheduled", "new_urls", "new_images"):
        m[f"crawl.frontier.{k}"] = (round_m[k], "count")
    for tb in TABLES:
        m[f"sources.catalog.{tb}.bytes_written"] = (written[tb], "B")
    m["sources.catalog.frontier.tombstone_ratio"] = (tomb_ratio, "ratio")
    m["crawl.filterstate.seen.bytes"] = (filter_bytes["seen"], "B")
    m["crawl.filterstate.image.bytes"] = (filter_bytes["image"], "B")
    m.update(kernel_metrics(web, [u for _, u in log], seeds,
                            [i for i, _, _ in images], args.seed))
    m.update(bloom_metrics(spark, cr.seen_bits, web, seen_after, args.seed))
    m["trace.round_s"] = (round_s, "s")
    # tracing overhead: time spent in the span bookkeeping during the timed
    # section; trace.round_s against the untraced run's round_s shows it too
    m["trace.overhead_s"] = (tracer.overhead["timed"], "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
