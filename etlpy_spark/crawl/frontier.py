"""Distributed URL-frontier + fetch scheduler — the Spark implementation of
the crawl rule specified in crawl/oracle.py (north_rule).

Shape of one round (all DataFrame ops; Python only inside Arrow batches,
at most one Python runner per task):

  frontier ──robots broadcast-join──▶ allowed/blocked
     allowed ──per-host window (priority, seq) ≤ K──▶ selected / deferred
     selected ──repartition(pmod(xxhash64(host), B))──▶ politeness buckets
              ──mapInPandas fetch──▶ (canonical links, image refs) +
              lineage part id
     links ──dedup keep-first by fetch order──▶
           FilterState.new_rows(seen)──▶ new urls
     new urls ──row_number over fetch order──▶ discovered_seq; → frontier
     image refs ──dedup keep-first──▶ FilterState.new_rows(images) ──▶
           fetch bytes / decode / pHash inside the write task
     commit: seen and images each by one write-and-fold job (part file +
           filter fold per task, then filter-state and table manifest
           commits) — the seen job writes each new url ONCE, as a frontier
           row; crawl-log manifest commit; frontier merge-on-read append of
           that seen data dir + tombstones of the consumed urls; metrics
           row — one snapshot per table per round; resume = continue from
           the last committed round.

The seen set and the image table are one structure twice: an exact keyed
table plus a (shard, sub) filter state (crawl/filterstate.py). The seen
table has the frontier's layout; the frontier's seed and round appends
ARE its data dirs.
``FilterState.new_rows`` is their one dedup step (filter probe, then an
anti-join of the filter-positive residue against the exact table) and
``SparkCrawler._write_and_fold`` their one commit job.

Every table's schema and on-disk layout is declared once below
(``*_LAYOUT``); every part file, whoever writes it (the catalog's own
write job, an engine task, or the crawler in-process), goes through
``sources.catalog.write_part`` with that layout, and every commit through
``SnapshotTable._commit_manifest``.

run_round sequences one private method per phase: _schedule (robots +
politeness), _fetch (fetch_rank + fetch + crawl-log write), _new_links
(dedup/filter probe + anti-join/rank), _commit_seen_and_log, _image_path,
_commit_round (frontier + metrics). Executor-side closures capture plain
locals (web config, round, dirs, filter spec), never ``self``, which holds
the SparkSession.

Scale notes (the 1000-executor story):
  - the seen filter is key-sharded (pair = pmod(hash(url), S*U));
    the Bloom-negative short-circuit keeps the anti-join's link side ~the
    true-new fraction. The probe runs once per deduplicated key and never
    over the seen table (new_rows reads both branches from one cache);
  - the per-host politeness cap K bounds per-host work per round, so the
    salted bucket repartition sees ≤ K rows per host — a hot host cannot
    skew a fetch partition by more than K (SURVEY.md §7 hard part #3);
  - the two order-global row_numbers (fetch_seq, discovered_seq) are the
    only single-partition points; they run over ≤ (hosts × K) selected rows
    and ≤ new-links rows per round — at 10^10 scale both would become
    range-partitioned rank (sort + per-partition offset), same total order;
  - AQE handles residual skew in the anti-joins.

Exact crawl-order parity vs the serial oracle holds because every ordering
is a pure function of (priority, discovered_seq[, link pos]) — all unique —
never of partitioning or scheduling (SURVEY.md §7 hard part #1).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etlpy_spark.crawl.filterstate import FilterState, PairFolder
from etlpy_spark.crawl.seen import filter_spec
from etlpy_spark.functions.url import canonicalize_rows
from etlpy_spark.sources.catalog import SnapshotTable, TableLayout, write_part
from etlpy_spark.sources.synthetic_web import WebConfig

# Storage schemas are DERIVABLE-COLUMN-FREE: host and priority are pure
# functions of the url (synthetic_web.host_expr / priority_expr), and the
# seen filter's (shard, sub) pair is pmod(hash(url), S*U) — so
# none of them is written to disk. Recomputing them on read costs scalable
# in-partition CPU; storing them costs bytes through the write path (the
# non-scaling resource on a shared bus — and 8-byte random hashes do not
# compress, so the old 4-column seen layout was 2x the bytes of (url,
# round) and 3.8x the bytes of the delta-encoded slim layout).
# ``read_frontier`` re-derives the expression columns. Each DDL is its
# table's declared schema; the layouts below are what gets written.
FRONTIER_DDL = "url string, discovered_seq long, round int, lineage_part int"
IMAGES_DDL = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long, decode_error string, first_round int, lineage_part int"
LOG_DDL = "fetch_seq long, url string, round int, lineage_part int"
METRICS_DDL = "round int, scheduled long, robots_blocked long, fetched long, deferred long, new_urls long, new_images long"
# URL tables: url-sorted files, prefix-delta urls (see TableLayout)
_URL_ENC = {"url": "DELTA_BYTE_ARRAY"}
# discovered_seq / fetch_seq are unique per row, so a dictionary never
# pays; delta-packed they cost a few bits per row (-28% file bytes measured
# on a 200k-row log part vs plain+snappy)
FRONTIER_LAYOUT = TableLayout(
    FRONTIER_DDL, sort=("url",),
    encodings={**_URL_ENC, "discovered_seq": "DELTA_BINARY_PACKED"},
)
LOG_LAYOUT = TableLayout(
    LOG_DDL, sort=("url",),
    encodings={**_URL_ENC, "fetch_seq": "DELTA_BINARY_PACKED"},
)
# image bytes are unique, already-compressed containers: no dictionary,
# no codec
IMAGES_LAYOUT = TableLayout(
    IMAGES_DDL, encodings={"bytes": "PLAIN"}, compression="none"
)
METRICS_LAYOUT = TableLayout(METRICS_DDL)
# target false-positive rate of each (shard, sub) seen/image filter unit
BLOOM_FPP = 0.01
# below this row count a single-partition window rank is cheaper than the
# two-phase ranged rank (extra shuffle + counts job); see global_rank
RANK_THRESHOLD = 20_000


@dataclass
class CrawlConfig:
    web: WebConfig = field(default_factory=WebConfig)
    n_shards: int = 8  # seen-set shards
    n_buckets: int = 8  # politeness fetch buckets
    bloom_capacity: int = 1 << 16  # per (shard, sub) filter unit, sandbox-sized
    # seen-set fast-path structure: "bloom" (bitsets) or "cuckoo"
    # (fingerprint buckets, ~30-40% less space at <=1% fpp under load).
    # Both only grow and have NO false negatives; the exact seen table
    # remains the authority either way (north_star: "sharded
    # Bloom/cuckoo-filter URL-seen set").
    seen_filter: str = "bloom"
    # starvation protection: each deferred round improves a URL's
    # effective priority by this amount (0 = off, reference-exact order).
    # eff = max(0, priority - aging * rounds_deferred) — deterministic,
    # mirrored by the serial oracle's priority_aging argument.
    priority_aging: int = 0
    # archive replay: a glob of WARC segments (sources/warc.py). When set,
    # page HTML and image bytes come from the archive (joined by URL /
    # image id) instead of the live fetcher — the Common Crawl workflow,
    # where the corpus IS the archive. Politeness, ranking, seen-set and
    # ordering semantics are identical; an archive miss behaves like a
    # 404 (empty page / undecodable blob). The archive is materialized
    # once per crawler into workdir parquet sorted by key, so each
    # round's join reads columnar data, not re-gunzipped WARC; at the
    # 100 TB point the pages table would be bucketed by url so the
    # per-round join co-locates without reshuffling the archive.
    archive_path: str = ""
    # robots rule source: False = read the injected rule functions
    # directly (the sandbox seam); True = render each host's robots.txt
    # TEXT and parse it with the RFC 9309 parser (functions/robots.py) —
    # the production shape, where the table is built from fetched bytes.
    # The two modes are differentially pinned equal (tests/test_robots.py)
    # so every downstream plan and row is identical.
    robots_from_text: bool = False


def _fail_once(fail_dir: str | None, tag: str, pid: int) -> None:
    """Test-only fault injection (closure-captured on the driver, so it
    works on real executors too): when ETLPY_FAIL_ONCE_DIR is set, the
    first attempt of partition 0 in the tagged write stage raises once,
    forcing a Spark task retry — tests/test_task_retry.py uses it to prove
    the executor-side external writers are retry-safe (no duplicate rows,
    bitwise crawl parity)."""
    if not fail_dir or pid != 0:
        return
    sentinel = os.path.join(fail_dir, f"{tag}-failed")
    if not os.path.exists(sentinel):
        with open(sentinel, "w") as f:
            f.write("1")
        raise RuntimeError(f"injected one-shot task failure ({tag}, pid={pid})")


def _canonical(urls: list[str]) -> list[str]:
    """The distinct canonical forms of ``urls``, sorted, invalid urls
    dropped — on the driver, with the helper the fetch and seed tasks use."""
    raw = pd.DataFrame({"raw": pd.Series(urls, dtype=object)})
    return sorted(set(canonicalize_rows(raw, "raw", "url")["url"]))


def _held(table: SnapshotTable, urls: list[str]) -> list[str]:
    """One url per live row of ``table`` whose url is in ``urls``, from one
    filtered scan (the IN list reaches the Parquet reader); no job when
    either side is empty."""
    if not urls or not table.live_rows():
        return []
    return [r.url for r in table.read().filter(F.col("url").isin(urls)).select("url").collect()]


def _image_rows(sub: pd.DataFrame, web: WebConfig, rnd: int) -> dict:
    """IMAGES_DDL columns for one chunk of new image refs: the bytes come
    from the archive's ``abytes`` column when present (replay), else from
    the live fetcher. Skip-with-reason: a blob this engine refuses
    (progressive JPEG, garbage) becomes a decode_error row — dims/phash
    need decoded pixels, fmt is sniffed."""
    from etlpy_spark.functions.imagecodec import (
        decode_or_error,
        image_spec,
        phash64,
        sniff_format,
    )
    from etlpy_spark.sources.synthetic_web import fetch_image

    rows = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "decode_error", "first_round", "lineage_part")}
    ab = sub["abytes"] if "abytes" in sub.columns else None
    for j, (iid, cap, part) in enumerate(
        zip(sub["image_id"], sub["caption"], sub["part"])
    ):
        if ab is not None:
            v = ab.iloc[j]
            data = bytes(v) if v is not None else b""
        else:
            data = fetch_image(iid, web)
        px, err = decode_or_error(data)
        if err is None:
            w_, h_, fmt = image_spec(iid, web.seed, web.dim_scale, web.force_fmt)
            w_, h_, ph = int(w_), int(h_), int(phash64(px))
        else:
            w_ = h_ = ph = None
            fmt = sniff_format(data)
        rows["image_id"].append(iid); rows["bytes"].append(data)
        rows["w"].append(w_); rows["h"].append(h_); rows["fmt"].append(fmt)
        rows["caption"].append(cap); rows["phash"].append(ph)
        rows["decode_error"].append(err)
        rows["first_round"].append(rnd); rows["lineage_part"].append(int(part))
    return rows


def global_rank(
    df: DataFrame, order_cols: list[str], out_col: str, base: int,
    npart: int, small: bool, caches: list | None = None,
) -> DataFrame:
    """Total-order 0-based sequence ``base + rank`` over ``order_cols``
    (assumed a unique key) WITHOUT a single-partition sort at scale:
    range-partition by the key, rank within each partition in parallel,
    then offset by the cumulative partition sizes (a driver-side cumsum
    over npart integers). Range partitions are ordered, so per-partition
    rank + offset == the global rank — the 10^10-row form of row_number.

    ``small=True`` keeps the plain global window (cheaper below ~20k rows),
    uncached and lazy: a second reader recomputes the same ranks, since
    the order is a unique key. Callers count the ranked rows from the
    write that consumes them (every driver action is a full Spark job,
    and the per-call job count is what caps URLs/s at the 10^10 design
    point). The large path caches its range partitions, and its
    partition-size collect IS its offset computation."""
    if small:
        w = Window.orderBy(*order_cols)
        return df.withColumn(
            out_col, F.row_number().over(w).cast("long") + F.lit(base) - 1
        )
    d = (
        df.repartitionByRange(npart, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid__", F.spark_partition_id())
        .cache()
    )
    if caches is not None:
        caches.append(d)
    counts = {
        r["__pid__"]: r["n"]
        for r in d.groupBy("__pid__").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not counts:
        return d.withColumn(out_col, F.lit(None).cast("long"))
    m = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    wp = Window.partitionBy("__pid__").orderBy(*order_cols)
    return d.withColumn(
        out_col,
        (F.row_number().over(wp).cast("long") - 1 + F.element_at(m, F.col("__pid__"))).cast("long"),
    ).drop("__pid__")


class SparkCrawler:
    def __init__(self, spark: SparkSession, workdir: str, cfg: CrawlConfig):
        self.spark = spark
        self.cfg = cfg
        self.workdir = workdir
        def table(name: str, layout: TableLayout) -> SnapshotTable:
            return SnapshotTable(spark, os.path.join(workdir, name), layout)

        self.frontier = table("frontier", FRONTIER_LAYOUT)
        self.seen = table("seen", FRONTIER_LAYOUT)
        self.images = table("images", IMAGES_LAYOUT)
        self.log = table("crawl_log", LOG_LAYOUT)
        self.metrics = table("metrics", METRICS_LAYOUT)
        # filter AUTHORITY = persisted (shard, sub, bits) state tables;
        # the driver holds these handles (geometry + snapshot meta), never
        # filter bytes — fold-forward and probes are distributed
        # (crawl/filterstate.py), one (shard, sub) pair per write task
        n_sub = max(1, max(cfg.n_buckets, cfg.n_shards) // cfg.n_shards)
        self.seen_bits, self.image_bits = (
            FilterState(spark, os.path.join(workdir, name), self._filter_geom(),
                        cfg.n_shards, n_sub)
            for name in ("seen_bits", "image_bits")
        )
        self._archive_ready = False

    # -- archive replay (cfg.archive_path) ---------------------------------

    def _ensure_archive(self) -> None:
        """Materialize the WARC archive ONCE into workdir parquet, sorted
        by key: pages (url, html) and image blobs (image_id, abytes). Each
        round then joins columnar data instead of re-gunzipping WARC; at
        scale this table would be bucketed by the join key."""
        if self._archive_ready or not self.cfg.archive_path:
            return
        from etlpy_spark.sources.warc import read_warc

        pages_dir = os.path.join(self.workdir, "archive_pages")
        imgs_dir = os.path.join(self.workdir, "archive_images")
        if not os.path.exists(pages_dir):
            recs = read_warc(self.spark, self.cfg.archive_path)
            # Real WARC corpora hold multiple captures of one URL; keep
            # exactly ONE record per join key (latest by date, record_id
            # tiebreak) so the replay joins never multiply selected rows
            # and fetched == n_selected stays an invariant (r4 advisory).
            cap = F.max_by(F.col("payload"), F.struct("date", "record_id"))
            recs.filter(F.col("warc_type") == "response").groupBy("url").agg(
                cap.cast("string").alias("html")
            ).sortWithinPartitions("url").write.mode("overwrite").parquet(pages_dir)
            recs.filter(
                (F.col("warc_type") == "resource")
                & F.col("url").startswith("urn:image:")
            ).groupBy(
                F.expr("substring(url, 11)").alias("image_id")
            ).agg(cap.alias("abytes")).sortWithinPartitions(
                "image_id"
            ).write.mode("overwrite").parquet(imgs_dir)
        self._archive_ready = True

    def _archive_pages(self):
        self._ensure_archive()
        return self.spark.read.parquet(os.path.join(self.workdir, "archive_pages"))

    def _archive_images(self):
        self._ensure_archive()
        return self.spark.read.parquet(os.path.join(self.workdir, "archive_images"))

    # -- state ------------------------------------------------------------

    def initialized(self) -> bool:
        return self.frontier.current_version() is not None

    def state(self) -> dict:
        return self.frontier.latest_meta() or {
            "round": 0, "next_fetch_seq": 0, "next_discovered_seq": 0
        }

    def read_frontier(self) -> DataFrame:
        """The pending frontier with its expression columns re-derived:
        host and priority are pure functions of the url (JVM-side
        expressions), so they are never stored — fewer bytes through every
        frontier commit for a per-round recompute that is embarrassingly
        parallel CPU."""
        from etlpy_spark.sources.synthetic_web import host_expr, priority_expr

        return (
            self.frontier.read()
            .withColumn("host", host_expr(F.col("url")))
            .withColumn("priority", priority_expr(F.col("url"), self.cfg.web.seed))
        )

    def init_from_seeds(self, seeds: list[str]) -> None:
        """Round-0 state: canonicalize seeds in dispatch order, keep-first
        (the reference dispatches in seed order, distributed.py:60-66)."""
        if self.initialized():
            return
        spark = self.spark
        seed_pdf = pd.DataFrame(
            {"seed_seq": pd.array(range(len(seeds)), dtype="int64"), "raw": seeds}
        )
        # Arrow path: a million-seed list lands in executors in ~a second;
        # the row-by-row createDataFrame pickle path is 10x slower. The
        # explicit schema keeps an EMPTY seed list valid (schema inference
        # cannot type an empty object column).
        raw = spark.createDataFrame(
            seed_pdf, schema="seed_seq long, raw string"
        ).repartition(self.cfg.n_buckets)
        df = raw.mapInPandas(
            lambda batches: (canonicalize_rows(pdf, "raw", "url") for pdf in batches),
            schema="seed_seq long, url string",
        )
        # keep-first per url (min seed_seq) via map-side-combinable agg;
        # dispatch order = seed order (reference distributed.py:60-66).
        # host/priority are NOT materialized anywhere: they are pure
        # expressions over the url, re-derived by read_frontier each round.
        first = df.groupBy("url").agg(F.min("seed_seq").alias("seed_seq"))
        init_caches: list = []
        ranked = global_rank(
            first, ["seed_seq"], "discovered_seq", 0, self.cfg.n_buckets,
            small=len(seeds) <= RANK_THRESHOLD, caches=init_caches,
        )
        frontier = ranked.select(
            "url", "discovered_seq",
            F.lit(0).alias("round"), F.lit(-1).alias("lineage_part"),
        )
        # the frontier's first snapshot is the seen commit's data dir. A
        # crash between the two commits re-runs init into a second seen dir
        # — harmless: membership is an anti-join, parity reads distinct urls.
        n, seen_dir = self._commit_seen(frontier)
        self.frontier.append_with_deletes(
            seen_dir, None, key="url",
            meta={"round": 0, "next_fetch_seq": 0, "next_discovered_seq": n},
        )
        for c in init_caches:
            c.unpersist()

    def _filter_geom(self) -> tuple:
        """Picklable geometry spec for per-shard seen filters (bloom or
        cuckoo per ``cfg.seen_filter``) — captured by executor closures and
        broadcasts instead of a class reference."""
        cfg = self.cfg
        return filter_spec(cfg.seen_filter, cfg.bloom_capacity, BLOOM_FPP)

    def _commit_seen(self, rows: DataFrame) -> tuple[int, str | None]:
        """Commit new frontier rows to the seen table and fold their URLs
        into the seen filter state; returns the number committed and the
        data dir (None if none), which the frontier commits as its own."""
        return self._write_and_fold(self.seen_bits, self.seen, rows, "url", "seen")

    def _write_and_fold(
        self, state: FilterState, table: SnapshotTable, rows: DataFrame,
        key_col: str, tag: str, meta: dict | None = None,
        make_rows: Callable[[pd.DataFrame], dict] | None = None,
        chunk: int | None = None,
    ) -> tuple[int, str | None]:
        """Commit ``rows`` to a keyed ``table`` and fold their keys into its
        filter ``state`` in ONE Spark job; returns the rows committed and
        the committed data dir (None when no row was written). Each
        task holds one (shard, sub) pair (``FilterState.by_pair``), writes
        its partition as ONE ``part-{pid:05d}.parquet`` through
        ``write_part``, reads its pair's previous-version filter file,
        folds its keys in and writes the new-version pair file. The driver
        collects only a count row per task, then manifest-commits both
        tables (``FilterState.finish`` hard-links untouched pairs forward,
        an O(#files) metadata pass). No filter bytes reach the driver.

        The part file's chunks are ``make_rows`` (default: the rows as
        they are) of ``chunk``-row slices of each input batch, or of the
        whole partition when ``chunk`` is None (then sorted as one piece,
        like any buffered part). Retry/speculation-safe: a re-run task
        lands the identical row set under the identical name, and pair
        files follow the same rule (filterstate.write_pair). ``tag`` names
        the stage for ``_fail_once``, which fires after the first chunk
        reached the task's tmp file."""
        state.ensure(table, key_col)
        layout = table.layout
        v, data_dir = table.begin_external()
        bv, bits_dir = state.begin()
        prev_dir = state.latest_dir()
        spec = state.spec
        fail_dir = os.environ.get("ETLPY_FAIL_ONCE_DIR")

        def write_and_fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            if chunk is None:
                parts = [pdf for pdf in batches if len(pdf)]
                batches = [pd.concat(parts, ignore_index=True)] if parts else []
            folder = PairFolder(prev_dir, bits_dir, spec)

            def chunks():
                for pdf in batches:
                    folder.fold(pdf, key_col)
                    for lo in range(0, len(pdf), chunk or len(pdf)):
                        sub = pdf.iloc[lo : lo + chunk] if chunk else pdf
                        yield make_rows(sub) if make_rows else sub
                        _fail_once(fail_dir, tag, pid)

            n = write_part(
                layout, chunks(), os.path.join(data_dir, f"part-{pid:05d}.parquet")
            )
            if n:
                folder.flush()
                yield pd.DataFrame({"n": [n]})

        state.by_pair(rows, key_col).mapInPandas(
            write_and_fold, schema="n long"
        ).collect()
        state.finish(bv, bits_dir, prev_dir)
        n = table.commit_external(v, data_dir, meta=meta)[1]
        return n, data_dir if n else None

    # -- robots -------------------------------------------------------------

    _robots_cache: DataFrame | None = None

    def _robots_df(self) -> DataFrame:
        """robots.txt rules as a (host, disallow[]) table, fetched/parsed
        IN EXECUTORS (one Arrow batch per partition over the host id space)
        and built once per crawler — in production this is a periodically
        refreshed fetched table keyed by host, exactly this shape; the r1
        version rebuilt it with a driver-side loop over all hosts every
        round (an O(n_hosts) serial Amdahl term)."""
        if self._robots_cache is not None:
            return self._robots_cache
        web = self.cfg.web
        npart = min(self.cfg.n_buckets, max(1, web.n_hosts // 1000 + 1))

        from_text = self.cfg.robots_from_text

        def fetch_robots(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from etlpy_spark.sources.synthetic_web import (
                robots_crawl_delay,
                robots_disallow,
                robots_txt,
            )

            if from_text:
                from etlpy_spark.functions.robots import parse_robots

            for pdf in batches:
                hosts = [f"host{int(k)}.example" for k in pdf["id"]]
                if from_text:
                    # production shape: parse each host's robots.txt BYTES
                    pols = [parse_robots(robots_txt(h, web), "etlpy-spark")
                            for h in hosts]
                    yield pd.DataFrame({
                        "host": hosts,
                        "disallow": [p.disallow_prefixes() for p in pols],
                        "crawl_delay": [int(p.crawl_delay) for p in pols],
                    })
                    continue
                yield pd.DataFrame(
                    {
                        "host": hosts,
                        "disallow": [robots_disallow(h, web) for h in hosts],
                        "crawl_delay": [robots_crawl_delay(h, web) for h in hosts],
                    }
                )

        df = (
            self.spark.range(0, web.n_hosts, 1, npart)
            .mapInPandas(
                fetch_robots,
                schema="host string, disallow array<string>, crawl_delay int",
            )
            .cache()
        )
        self._robots_cache = df
        return df

    # -- one round ----------------------------------------------------------

    def run_round(self) -> dict:
        """Run one crawl round and return its metrics row. No Spark job
        only counts: ``scheduled`` is the frontier manifest's live-row
        count, and every other count comes from the write that produced
        it. Spark actions run in this order: the large rank path's offset
        collects (fetch order, then discovered order), the fused seen
        write (it materializes the robots-annotated frontier and fetch
        caches and the whole link path), the image write, which reads
        that fetch cache, then the fetched-url broadcast and the frontier
        tombstone write. So the seen + crawl-log commit precedes the image
        phase and the frontier + metrics commit follows it."""
        st = self.state()
        rnd = int(st["round"])
        scheduled = self.frontier.live_rows()
        if scheduled == 0:
            return {"round": rnd, "fetched": 0, "scheduled": 0}
        base, selected = self._schedule(rnd)
        caches: list = [base]
        small = scheduled <= RANK_THRESHOLD
        selected, extracted, log_txn = self._fetch(
            selected, rnd, int(st["next_fetch_seq"]), small, caches
        )
        new_frontier, probe_cleanup = self._new_links(
            extracted, rnd, int(st["next_discovered_seq"]), small, caches
        )
        fetched, n_new, new_dir = self._commit_seen_and_log(new_frontier, rnd, log_txn)
        n_images = self._image_path(extracted, rnd)
        m = self._commit_round(
            st, base, selected, new_dir, scheduled=scheduled,
            fetched=fetched, n_new=n_new, n_images=n_images,
        )
        for c in caches:
            c.unpersist()
        probe_cleanup()
        return m

    def _schedule(self, rnd: int) -> tuple[DataFrame, DataFrame]:
        """Schedule phase: robots gate + politeness selection. Returns the
        cached robots-annotated frontier and the (lazy) selected rows; no
        Spark job runs here."""
        cfg = self.cfg
        frontier = self.read_frontier()

        # robots gate: broadcast join + any-prefix match (pure expressions).
        # The robots-annotated frontier is cached ONCE; the politeness
        # window, the fetch ranking and the MoR tombstones all read the
        # cache (each driver action is a full Spark job; round fixed cost
        # is what caps URLs/s).
        robots = self._robots_df()
        path = F.regexp_extract(F.col("url"), r"^[a-z]+://[^/]+(/.*)$", 1)
        blocked_pred = F.exists(
            F.coalesce(F.col("disallow"), F.array().cast("array<string>")),
            lambda d: path.startswith(d),
        )
        # per-host round budget: K scaled down by the host's robots
        # Crawl-delay (host_round_budget rule — identical expression in the
        # serial oracle), JVM-side from the broadcast robots row
        K = cfg.web.politeness_budget
        budget = F.when(
            F.coalesce(F.col("crawl_delay"), F.lit(0)) > 0,
            F.greatest(
                F.lit(1), F.floor(F.lit(K) / F.col("crawl_delay")).cast("int")
            ),
        ).otherwise(F.lit(K))
        # effective priority: aging (starvation protection) subtracts
        # priority_aging per deferred round — a pure function of
        # (priority, entry round, current round), so the distributed
        # order still collapses to the serial oracle's exactly
        if cfg.priority_aging > 0:
            eprio = F.greatest(
                F.lit(0),
                F.col("priority")
                - F.lit(cfg.priority_aging) * (F.lit(rnd) - F.col("round")),
            ).cast("int")
        else:
            eprio = F.col("priority")
        base = (
            frontier.join(F.broadcast(robots), on="host", how="left")
            .withColumn("__blocked__", blocked_pred)
            .withColumn("__budget__", budget)
            .withColumn("__eprio__", eprio)
            .drop("disallow", "crawl_delay")
            .cache()
        )
        # politeness selection: per-host top-budget by (eprio, seq). The
        # rank filter leads with the LITERAL bound K so Catalyst's
        # InferWindowGroupLimit inserts a WindowGroupLimit on BOTH sides of
        # the window shuffle (map-side partial top-K per host) — at a
        # BACKLOGGED frontier (pending ≫ hosts×K, the steady state of a
        # 10^10-URL crawl) the politeness shuffle then carries O(hosts×K)
        # rows instead of O(pending). The data-dependent Crawl-delay budget
        # (≤ K by construction) filters exactly after the prune.
        wh = Window.partitionBy("host").orderBy("__eprio__", "discovered_seq")
        selected = (
            base.filter(~F.col("__blocked__"))
            .withColumn("__hk__", F.row_number().over(wh))
            .filter(
                (F.col("__hk__") <= F.lit(K)) & (F.col("__hk__") <= F.col("__budget__"))
            )
            .drop("__blocked__", "__hk__", "__budget__")
        )
        return base, selected

    def _fetch(
        self, selected: DataFrame, rnd: int, fetch_base: int, small: bool,
        caches: list,
    ) -> tuple[DataFrame, DataFrame, tuple[int, str]]:
        """Fetch phase: global fetch order (fetch_rank), then fetch + parse
        inside politeness buckets, the crawl log written by the same tasks.
        Lazy apart from the large rank path's offset collect. Returns the
        ranked selected rows, the cached extracted (link, image) rows and
        the crawl log's reserved (version, dir)."""
        cfg = self.cfg
        # global fetch order (total: priority, discovered_seq unique). The
        # selected-row count is NOT aggregated up front (that would force a
        # full un-pruned window pass): it arrives free from the crawl-log
        # commit's parquet footers.
        selected = global_rank(
            selected, ["__eprio__", "discovered_seq"], "fetch_seq", fetch_base,
            cfg.n_buckets, small=small, caches=caches,
        )
        # cached: the fetch and _commit_round's tombstone semi-join both
        # read it (uncached, the semi-join re-runs the politeness window:
        # perfbench round_s +3 % on 4 cores)
        selected = selected.drop("__eprio__").cache()
        caches.append(selected)

        # fetch inside politeness buckets (salted by host hash). Archive
        # replay joins the page HTML in BEFORE bucketing (left join: a
        # miss is a 404); live mode's plan is untouched.
        if cfg.archive_path:
            selected = selected.join(
                self._archive_pages().withColumnRenamed("html", "__html__"),
                "url", "left",
            )
        buckets = selected.repartition(cfg.n_buckets, F.pmod(F.xxhash64("host"), F.lit(cfg.n_buckets)))
        web = cfg.web

        # the crawl log is written INSIDE the fetch UDF (one write_part
        # file per politeness bucket, manifest-committed after the first
        # job that materializes the fetch) — the r2.0 separate log.append
        # cost a full Spark job per round just to materialize the fetch
        # cache. Part files are named by partition id, so a re-computed
        # partition (evicted cache block, task retry) overwrites its own
        # identical output instead of duplicating.
        v_log, log_dir = self.log.begin_external()
        log_layout = self.log.layout

        def fetch_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            from etlpy_spark.sources.synthetic_web import page, parse_page

            part = TaskContext.get().partitionId() if TaskContext.get() else -1
            log = {"fetch_seq": [], "url": []}
            for pdf in batches:
                out = {"fetch_seq": [], "kind": [], "pos": [], "value": [], "caption": [], "part": []}
                # archive replay: the joined __html__ column IS the fetch
                htmls = pdf["__html__"] if "__html__" in pdf.columns else None
                for j, (fs, u) in enumerate(zip(pdf["fetch_seq"], pdf["url"])):
                    # fetch → parse → extract, like the reference spider
                    # (spider.py:211-261): links/images come from the parsed
                    # markup, not from the generator's internal lists —
                    # parse_page's round-trip exactness vs page() is
                    # differentially tested, so oracle parity is unaffected
                    if htmls is not None:
                        h = htmls.iloc[j]
                        pg = parse_page(h if isinstance(h, str) else "")
                    else:
                        pg = parse_page(page(u, web)["html"])
                    for i, l in enumerate(pg["links"]):
                        out["fetch_seq"].append(fs); out["kind"].append("link")
                        out["pos"].append(i); out["value"].append(l)
                        out["caption"].append(None); out["part"].append(part)
                    for i, (im, cap) in enumerate(zip(pg["image_ids"], pg["captions"])):
                        out["fetch_seq"].append(fs); out["kind"].append("img")
                        out["pos"].append(i); out["value"].append(im)
                        out["caption"].append(cap); out["part"].append(part)
                    log["fetch_seq"].append(fs); log["url"].append(u)
                # links leave this task canonical (invalid hrefs dropped,
                # survivors keep their raw pos), so no later stage runs a
                # Python runner to canonicalize them
                out = pd.DataFrame(out)
                is_link = out["kind"] == "link"
                yield canonicalize_rows(out[is_link], "value", "value")
                yield out[~is_link]
            if log["fetch_seq"]:
                n = len(log["fetch_seq"])
                # url-sorted by the layout (urls are unique per round), so
                # the file is byte-identical across task re-runs
                log.update(round=[rnd] * n, lineage_part=[part] * n)
                write_part(
                    log_layout, log, os.path.join(log_dir, f"part-{part:05d}.parquet")
                )

        extracted = buckets.mapInPandas(
            fetch_pages,
            schema="fetch_seq long, kind string, pos int, value string, caption string, part int",
        ).cache()
        caches.append(extracted)
        return selected, extracted, (v_log, log_dir)

    def _new_links(
        self, extracted: DataFrame, rnd: int, seq_base: int, small: bool,
        caches: list,
    ) -> tuple[DataFrame, Callable[[], None]]:
        """Link phase: keep-first dedup of the (fetch-canonicalized) links,
        seen-filter probe + anti-join of the filter-positive residue,
        discovered_seq rank. Lazy apart from the large rank path's offset
        collect. Returns the new-frontier rows (counted by the seen write)
        and the probe's cleanup, called after the round commits."""
        cfg = self.cfg
        links = extracted.filter(F.col("kind") == "link").select(
            "fetch_seq", "pos", "part", F.col("value").alias("url")
        )
        # keep-first by (fetch_seq, pos): min over a struct ordered by those
        # fields — a map-side-combinable aggregation, NOT a window sort
        # (shuffle carries one row per unique url, not every occurrence).
        # host/priority are NOT computed here at all: they are pure
        # functions of the url, re-derived from the stored frontier by
        # read_frontier — the link path neither shuffles nor stores them.
        links = (
            links.groupBy("url")
            .agg(F.min(F.struct("fetch_seq", "pos", "part")).alias("__f__"))
            .select("url", "__f__.*")
        )

        # each url is checked against its own (shard, sub) filter, then
        # the filter-positive residue against the exact seen table
        new_links, cleanup = self.seen_bits.new_rows(links, "url", self.seen)

        ranked_links = global_rank(
            new_links, ["fetch_seq", "pos"], "discovered_seq", seq_base,
            cfg.n_buckets, small=small, caches=caches,
        )
        new_frontier = ranked_links.select(
            "url", "discovered_seq",
            F.lit(rnd + 1).alias("round"), F.col("part").alias("lineage_part"),
        )
        return new_frontier, cleanup

    def _commit_seen_and_log(
        self, new_frontier: DataFrame, rnd: int, log_txn: tuple[int, str],
    ) -> tuple[int, int, str | None]:
        """Seen + crawl-log commit. The fused seen write runs the whole
        link path and writes (and counts) the new frontier rows. That job
        consumed every partition of the fetch cache, so all per-bucket log
        part files exist — manifest-commit them; their footer row count IS
        the fetched count. Returns (fetched, new URLs, seen data dir)."""
        n_new, new_dir = self._commit_seen(new_frontier)
        _, fetched = self.log.commit_external(*log_txn, meta={"round": rnd})
        return fetched, n_new, new_dir

    def _image_path(self, extracted: DataFrame, rnd: int) -> int:
        """Image phase: keep-first image refs, image-filter probe +
        anti-join of the filter-positive residue against the image table,
        then ONE job that fetches, decodes and pHashes the new images,
        writes their part files and folds their ids into the image filter
        state. Returns the number of image rows committed."""
        cfg = self.cfg
        refs = (
            extracted.filter(F.col("kind") == "img")
            .groupBy(F.col("value").alias("image_id"))
            .agg(
                F.min_by(
                    F.struct("caption", "part"), F.struct("fetch_seq", "pos")
                ).alias("__f__")
            )
            .select("image_id", "__f__.caption", "__f__.part")
        )
        if cfg.archive_path:
            # replay: blobs ride in from the archive (left join —
            # a missing blob decodes to a decode_error row, like a
            # dead image link in a live crawl)
            refs = refs.join(self._archive_images(), "image_id", "left")
        refs, cleanup = self.image_bits.new_rows(refs, "image_id", self.images)
        # bytes go Python→parquet→disk INSIDE the task; the Spark job only
        # carries a count row per task. Skips the Arrow transfer, the JVM
        # row copy and the JVM parquet encode for the ~300 KB binary
        # payloads — on the memory-bandwidth-bound image axis those copies
        # were the engine overhead on top of the raw codec kernel.
        web = cfg.web
        CHUNK = 256  # bounds per-task memory: image BYTES never
        # accumulate beyond ~CHUNK rows per frame / row group (a whole
        # input batch of 280 KB images in one frame OOMs at high task
        # concurrency — memory must not scale with parallelism)
        n_imgs, _ = self._write_and_fold(
            self.image_bits, self.images, refs, "image_id", "images",
            meta={"round": rnd},
            make_rows=lambda sub: _image_rows(sub, web, rnd), chunk=CHUNK,
        )
        cleanup()
        return n_imgs

    def _commit_round(
        self, st: dict, base: DataFrame, selected: DataFrame,
        new_dir: str | None, scheduled: int, fetched: int, n_new: int,
        n_images: int,
    ) -> dict:
        """Round commit: one merge-on-read frontier commit appends the
        seen commit's data dir ``new_dir`` (None: tombstones only) and
        tombstones the consumed rows (robots-blocked, and every row of a
        fetched url) — O(round-sized files); its snapshot meta is the
        crawl's resume state, and its metrics take ``robots_blocked`` from
        the tombstone write's count of blocked rows. Tombstones compact
        automatically past SnapshotTable's threshold (one distributed
        rewrite). Then the round's one metrics row, written in-process
        under a fixed part name (no Spark job): a crashed-round re-run
        rewrites the identical file under the identical name, which keeps
        the metrics table inside the streaming bridge's exactly-once
        contract. Returns the metrics."""
        rnd = int(st["round"])
        m: dict = {}

        def state_meta(_, __, blocked: int) -> dict:
            m.update(round=rnd, scheduled=scheduled, robots_blocked=blocked,
                     fetched=fetched, deferred=scheduled - blocked - fetched,
                     new_urls=n_new, new_images=n_images)
            return {
                "round": rnd + 1,
                "next_fetch_seq": int(st["next_fetch_seq"]) + fetched,
                "next_discovered_seq": int(st["next_discovered_seq"]) + n_new,
                "metrics": m,
            }

        # one tombstone per consumed ROW, so the frontier's live-row count
        # stays exact: a url can be pending twice (recrawled, or forgotten
        # while pending, then rediscovered), and its key deletes both rows
        # even when the politeness budget selected only one
        consumed = base.filter(F.col("__blocked__")).unionByName(
            base.join(selected.select("url"), "url", "left_semi")
        )
        self.frontier.append_with_deletes(
            new_dir, consumed.select("url", "__blocked__"), key="url",
            meta=state_meta, flag="__blocked__",
        )
        mv, metrics_dir = self.metrics.begin_external()
        write_part(
            self.metrics.layout, {k: [v] for k, v in m.items()},
            os.path.join(metrics_dir, "part-00000.parquet"),
        )
        self.metrics.commit_external(mv, metrics_dir, meta={"round": rnd})
        return m

    def run(self, seeds: list[str] | None, max_rounds: int) -> list[dict]:
        """Run (or resume) the crawl. Resume = the tables' last committed
        snapshots ARE the state; a crashed round re-runs from its start."""
        if not self.initialized():
            if seeds is None:
                raise ValueError("fresh crawl needs seeds")
            self.init_from_seeds(seeds)
        out = []
        while int(self.state()["round"]) < max_rounds:
            m = self.run_round()
            out.append(m)
            if m.get("fetched", 0) == 0 and m.get("scheduled", 0) == 0:
                break
        return out

    # -- refresh / retraction APIs --------------------------------------------

    def recrawl(self, urls: list[str]) -> int:
        """Stale-page refresh: re-enqueue URLs into the frontier so the next
        round refetches them. The seen set is NOT touched — it gates link
        *discovery*, not fetching, so a direct enqueue refetches regardless
        of membership while every invariant (exact seen table, link-path
        anti-joins, politeness/robots/priority ordering) holds unchanged.
        Newly appearing links on the refetched page are discovered normally.

        A point operation on a driver-held list (no DataFrame form): the
        list is canonicalized and deduplicated on the driver (O(list)),
        one filtered scan finds the urls already pending, and the rest are
        written in-process as one frontier part file — the only Spark job
        is the scan. Rows get fresh ``discovered_seq`` values (ranked by
        url) and ``lineage_part = -2`` so recrawled lineage is
        distinguishable from seed (-1) and link parts (≥0). Returns the
        number of URLs enqueued (already-pending ones are skipped); when
        it is 0 no snapshot is committed."""
        if not self.initialized():
            raise ValueError("recrawl needs an initialized crawl (init_from_seeds)")
        canon = _canonical(urls)
        pending = set(_held(self.frontier, canon))
        new = [u for u in canon if u not in pending]
        if not new:
            return 0
        st = self.state()
        rnd, seq_base, n = int(st["round"]), int(st["next_discovered_seq"]), len(new)
        # append-only enqueue (pending rows stay in their files): with
        # sequence-aware tombstones a previously-fetched url appended here
        # is NOT re-deleted by old tombstones, so re-enqueue always lands
        v, data_dir = self.frontier.begin_external()
        write_part(
            self.frontier.layout,
            {"url": new, "discovered_seq": list(range(seq_base, seq_base + n)),
             "round": [rnd] * n, "lineage_part": [-2] * n},
            os.path.join(data_dir, "part-00000.parquet"),
        )
        self.frontier.commit_external(v, data_dir, meta={
            "round": rnd, "next_fetch_seq": int(st["next_fetch_seq"]),
            "next_discovered_seq": seq_base + n, "recrawled": n,
        })
        return n

    def forget(self, urls: list[str]) -> int:
        """Retract URLs from the seen set so they become *discoverable*
        again through links (takedown-then-allow). A point operation on a
        driver-held list (no DataFrame form): the list is canonicalized on
        the driver (O(list)), one filtered scan finds the seen rows, and
        their equality-delete TOMBSTONES (``SnapshotTable.append_with_deletes``,
        the merge-on-read primitive the frontier commits use) are written
        in-process, one per seen row — O(changed rows), never a rewrite
        per takedown request. Accumulated tombstones auto-compact past the
        threshold.

        The filter state is left alone: a forgotten URL stays
        filter-positive, so when a link rediscovers it, the residue
        anti-join of ``FilterState.new_rows`` against the tombstoned table
        finds it new. Filters promise no false negatives, not no false
        positives, so the result is exact and no rebuild is needed.

        Returns the number of seen rows retracted (0 before the seen
        table's first commit, and when no url is seen: then no snapshot is
        committed)."""
        held = _held(self.seen, _canonical(urls))
        if held:
            self.seen.append_with_deletes(None, held, key="url")
        return len(held)

    # -- results for parity checks ------------------------------------------

    def crawl_log_list(self) -> list[tuple[int, str]]:
        rows = self.log.read().orderBy("fetch_seq").select("fetch_seq", "url").collect()
        return [(r.fetch_seq, r.url) for r in rows]

    def seen_urls_list(self) -> set[str]:
        return {r.url for r in self.seen.read().select("url").collect()}
