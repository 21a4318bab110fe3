"""Distributed URL-frontier + fetch scheduler — the Spark implementation of
the crawl rule specified in crawl/oracle.py (north_rule).

Shape of one round (all DataFrame ops; Python only inside Arrow batches):

  frontier ──robots broadcast-join──▶ allowed/blocked
     allowed ──per-host window (priority, seq) ≤ K──▶ selected / deferred
     selected ──repartition(pmod(xxhash64(host), B))──▶ politeness buckets
              ──mapInPandas fetch──▶ (links, image refs) + lineage part id
     links ──canonicalize+priority UDF──▶ dedup-in-batch (keep first by
           fetch order) ──Bloom prefilter──▶ bloom-negative = new;
           bloom-positive ──anti-join seen──▶ survivors = new
     new urls ──row_number over fetch order──▶ discovered_seq; → frontier
     image refs ──dedup keep-first──▶ image-filter prefilter ──▶ anti-join
           image table (filter-positive residue only) ──▶ fetch bytes /
           decode / pHash, part files written by the task ──▶
           manifest commit of the images table (+ image filter fold)
     commit: seen append (+ seen filter fold, one fused job), crawl-log
           manifest commit (parts written by the fetch tasks), images
           manifest commit, frontier merge-on-read append of the new urls
           + equality-delete tombstones of the consumed ones, metrics row
           — one snapshot per table per round; resume = continue from the
           last committed round.

Every table's schema and on-disk layout is declared once below
(``*_LAYOUT``); every part file, whoever writes it (the catalog's own
write job, an engine task, or the crawler in-process), goes through
``sources.catalog.write_part`` with that layout, and every commit through
``SnapshotTable._commit_manifest``.

run_round sequences one private method per phase: _schedule (robots +
politeness), _fetch (fetch_rank + fetch + crawl-log write), _new_links
(canon/dedup/filter/anti-join/rank), _commit_seen_and_log, _image_path,
_commit_round (frontier + metrics). Executor-side closures capture plain
locals (web config, round, dirs, filter spec), never ``self``, which holds
the SparkSession.

Scale notes (the 1000-executor story):
  - every join against `seen` is key-sharded (pmod(xxhash64(url), S));
    Bloom-negative short-circuit keeps the anti-join input ~the true-new
    fraction, not all extracted links;
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
from etlpy_spark.sources.catalog import SnapshotTable, TableLayout, write_part
from etlpy_spark.sources.synthetic_web import WebConfig

# Storage schemas are DERIVABLE-COLUMN-FREE: host and priority are pure
# functions of the url (synthetic_web.host_expr / priority_expr), and the
# seen shard / url_hash are pmod(xxhash64(url), S) / xxhash64(url) — so
# none of them is written to disk. Recomputing them on read costs scalable
# in-partition CPU; storing them costs bytes through the write path (the
# non-scaling resource on a shared bus — and 8-byte random hashes do not
# compress, so the old 4-column seen layout was 2x the bytes of (url,
# round) and 3.8x the bytes of the delta-encoded slim layout).
# ``read_frontier`` re-derives the expression columns. Each DDL is its
# table's declared schema; the layouts below are what gets written.
FRONTIER_DDL = "url string, discovered_seq long, round int, lineage_part int"
SEEN_DDL = "url string, round int"
IMAGES_DDL = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long, decode_error string, first_round int, lineage_part int"
LOG_DDL = "fetch_seq long, url string, round int, lineage_part int"
METRICS_DDL = "round int, scheduled long, robots_blocked long, fetched long, deferred long, new_urls long, new_images long"
# URL tables: url-sorted files, prefix-delta urls (see TableLayout)
_URL_ENC = {"url": "DELTA_BYTE_ARRAY"}
FRONTIER_LAYOUT = TableLayout(FRONTIER_DDL, sort=("url",), encodings=_URL_ENC)
SEEN_LAYOUT = TableLayout(SEEN_DDL, sort=("url",), encodings=_URL_ENC)
# fetch_seq is unique per row, so a dictionary never pays; within one
# round's url-sorted file its deltas stay small (-28% file bytes measured
# on a 200k-row log part vs plain+snappy)
LOG_LAYOUT = TableLayout(
    LOG_DDL, sort=("url",),
    encodings={**_URL_ENC, "fetch_seq": "DELTA_BINARY_PACKED"},
)
# image bytes are already-compressed containers
IMAGES_LAYOUT = TableLayout(IMAGES_DDL, compression="none")
METRICS_LAYOUT = TableLayout(METRICS_DDL)
# target false-positive rate of each (shard, sub) seen/image filter unit
BLOOM_FPP = 0.01
# filter probes switch from broadcast to sharded delivery once the
# serialized filter set exceeds this many bytes (see _probe_filters)
FILTER_BROADCAST_MAX_BYTES = 64 << 20
# below this row count a single-partition window rank is cheaper than the
# two-phase ranged rank (extra shuffle + counts job); see global_rank
RANK_THRESHOLD = 20_000


@dataclass
class CrawlConfig:
    web: WebConfig = field(default_factory=WebConfig)
    n_shards: int = 8  # seen-set shards
    n_buckets: int = 8  # politeness fetch buckets
    bloom_capacity: int = 1 << 16  # per (shard, sub) filter unit, sandbox-sized
    # seen-set fast-path structure: "bloom" (OR-mergeable bitsets) or
    # "cuckoo" (cuckoo filter — supports delete_many for recrawl
    # scheduling, ~30-40% less space at <=1% fpp under load; merged by
    # fingerprint re-insertion). Both have NO false negatives; the exact
    # seen table remains the authority either way (north_star: "sharded
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
    count: bool = True,
) -> tuple[DataFrame, int]:
    """Total-order 0-based sequence ``base + rank`` over ``order_cols``
    (assumed a unique key) WITHOUT a single-partition sort at scale:
    range-partition by the key, rank within each partition in parallel,
    then offset by the cumulative partition sizes (a driver-side cumsum
    over npart integers). Range partitions are ordered, so per-partition
    rank + offset == the global rank — the 10^10-row form of row_number.

    Returns (ranked df cached, total rows). ``small=True`` keeps the plain
    global window (cheaper below ~20k rows). ``count=False`` skips the
    materializing count job and returns -1 — for callers that already know
    the row count (or get it later from parquet footers); every driver
    action is a full Spark job, and the per-round job count is what caps
    URLs/s at the 10^10 design point. The large path always counts: its
    partition-size collect IS the offset computation."""
    if small:
        w = Window.orderBy(*order_cols)
        out = df.withColumn(
            out_col, F.row_number().over(w).cast("long") + F.lit(base) - 1
        ).cache()
        if caches is not None:
            caches.append(out)
        return out, (out.count() if count else -1)
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
        return d.withColumn(out_col, F.lit(None).cast("long")), 0
    m = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    wp = Window.partitionBy("__pid__").orderBy(*order_cols)
    out = d.withColumn(
        out_col,
        (F.row_number().over(wp).cast("long") - 1 + F.element_at(m, F.col("__pid__"))).cast("long"),
    ).drop("__pid__")
    return out, acc - base


class SparkCrawler:
    def __init__(self, spark: SparkSession, workdir: str, cfg: CrawlConfig):
        self.spark = spark
        self.cfg = cfg
        self.workdir = workdir
        def table(name: str, layout: TableLayout) -> SnapshotTable:
            return SnapshotTable(spark, os.path.join(workdir, name), layout)

        self.frontier = table("frontier", FRONTIER_LAYOUT)
        self.seen = table("seen", SEEN_LAYOUT)
        self.images = table("images", IMAGES_LAYOUT)
        self.log = table("crawl_log", LOG_LAYOUT)
        self.metrics = table("metrics", METRICS_LAYOUT)
        # filter AUTHORITY = persisted (shard, sub, bits) state tables;
        # the driver holds these handles (geometry + snapshot meta), never
        # filter bytes — fold-forward and probes are distributed
        # (crawl/filterstate.py). sub seeds match the respective write
        # jobs' sub-partitioning hashes: a pair's sub-filter only contains
        # its own sub's keys, so probe and write routing MUST agree.
        n_sub = max(1, max(cfg.n_buckets, cfg.n_shards) // cfg.n_shards)
        self.seen_bits = FilterState(
            spark, os.path.join(workdir, "seen_bits"), self._filter_geom(),
            cfg.n_shards, n_sub, sub_seed=7,
        )
        self.image_bits = FilterState(
            spark, os.path.join(workdir, "image_bits"), self._filter_geom(),
            cfg.n_shards, n_sub, sub_seed=1,
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

    # -- vectorized url helpers -------------------------------------------

    def _canon_udf(self):
        """raw url -> canonical url (RFC-3986), one Arrow batch, vectorized:
        URLs full-matching the already-canonical shape (FAST_CANONICAL_RE —
        the overwhelming majority in a steady crawl, since extracted links
        are well-formed) skip per-row canonicalization entirely; only
        irregular URLs pay the urlsplit slow path. This UDF is the ONLY
        Python in the link path — host and priority are pure Column
        expressions over the canonical url (synthetic_web.host_expr /
        priority_expr), computed after dedup on the unique survivors."""
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _canon(raw: pd.Series) -> pd.Series:
            from etlpy_spark.functions.url import FAST_CANONICAL_RE, canonicalize_url

            fast = raw.str.fullmatch(FAST_CANONICAL_RE, na=False)
            canon = raw.where(fast, None)
            if (~fast).any():
                canon.loc[~fast] = raw.loc[~fast].map(canonicalize_url)
            return canon

        return _canon

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
        from etlpy_spark.functions.url import canonicalize_split

        # already-canonical seeds stay JVM-side; only dirty ones enter the
        # canon UDF (see canonicalize_split — a when() would not prune)
        df = (
            canonicalize_split(raw, "raw", "url")
            .select("seed_seq", "url")
            .filter(F.col("url").isNotNull())
        )
        # keep-first per url (min seed_seq) via map-side-combinable agg;
        # dispatch order = seed order (reference distributed.py:60-66).
        # host/priority are NOT materialized anywhere: they are pure
        # expressions over the url, re-derived by read_frontier each round.
        first = df.groupBy("url").agg(F.min("seed_seq").alias("seed_seq"))
        init_caches: list = []
        ranked, n = global_rank(
            first, ["seed_seq"], "discovered_seq", 0, self.cfg.n_buckets,
            small=len(seeds) <= RANK_THRESHOLD, caches=init_caches,
            count=False,
        )
        frontier = ranked.select(
            "url", "discovered_seq",
            F.lit(0).alias("round"), F.lit(-1).alias("lineage_part"),
        ).cache()
        # seen first: its fused write job materializes the frontier cache
        # AND returns the row count (no separate count job). A crash between
        # the two commits re-runs init, duplicating seen rows — harmless:
        # membership is an anti-join and parity reads distinct urls.
        n_seen = self._commit_seen(frontier.select("url", F.lit(0).alias("round")))
        if n < 0:
            n = n_seen
        self.frontier.overwrite(
            frontier, meta={"round": 0, "next_fetch_seq": 0, "next_discovered_seq": n}
        )
        frontier.unpersist()
        for c in init_caches:
            c.unpersist()

    def _filter_geom(self) -> tuple:
        """Picklable geometry spec for per-shard seen filters (bloom or
        cuckoo per ``cfg.seen_filter``) — captured by executor closures and
        broadcasts instead of a class reference."""
        cfg = self.cfg
        return filter_spec(cfg.seen_filter, cfg.bloom_capacity, BLOOM_FPP)

    def _commit_seen(self, urls_round: DataFrame) -> int:
        """Commit this round's new URLs to the seen table and fold them
        into the (shard, sub) filter STATE TABLE in ONE Spark job: each
        task writes its own seen part file, reads its pairs'
        previous-version filter files,
        folds its new keys in, and writes the new-version filter files —
        the driver collects only per-partition COUNT rows and then
        manifest-commits both tables (plus hard-linking untouched pairs
        forward, an O(#files) metadata pass). No filter bytes ever reach
        the driver. Returns the number of URLs committed.

        Retry/speculation-safe: each task buffers its partition and writes
        ONE ``part-{pid:05d}.parquet`` with ``write_part`` — a re-run
        replaces its own identical row set (the partition's content is a
        pure function of the round's input) instead of adding a duplicate
        part file; filter pair files follow the same protocol
        (filterstate.write_pair)."""
        cfg = self.cfg
        state = self.seen_bits
        rows = urls_round.select(
            state.shard_expr("url").alias("shard"),
            state.sub_expr("url").alias("__sub__"),
            "url",
            "round",
        )
        self._ensure_seen_bits()
        spec = state.spec
        layout = self.seen.layout
        v, data_dir = self.seen.begin_external()
        bv, bits_dir = state.begin()
        prev_dir = state.latest_dir()
        fail_dir = os.environ.get("ETLPY_FAIL_ONCE_DIR")

        # explicit repartition, NOT groupBy: AQE would coalesce the
        # groupBy shuffle by input bytes and serialize the write+filter
        # stage (key rows are narrow while the per-key work is not).
        # The (shard, sub) partitioner puts every pair wholly in one
        # task, so the task's fold is the COMPLETE new state for its
        # pairs — no driver merge step exists anymore.
        def write_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            parts = [pdf for pdf in batches if len(pdf)]
            _fail_once(fail_dir, "seen", pid)
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            write_part(layout, pdf, os.path.join(data_dir, f"part-{pid:05d}.parquet"))
            # filter adds are order-insensitive, so the fold reads the
            # unsorted frame
            folder = PairFolder(prev_dir, bits_dir, spec)
            for (s, u), g in pdf.groupby(["shard", "__sub__"]):
                folder.add(int(s), int(u), g["url"].to_numpy())
            folder.flush()
            yield pd.DataFrame({"n": [len(pdf)]})

        nb = max(cfg.n_buckets, cfg.n_shards)
        job = rows.repartition(nb, F.col("shard"), F.col("__sub__")).mapInPandas(
            write_parts, schema="n long"
        )
        parts = job.collect()
        state.finish(bv, bits_dir, prev_dir)
        self.seen.commit_external(v, data_dir)
        return sum(int(r["n"]) for r in parts)

    def _ensure_seen_bits(self) -> FilterState:
        """Guarantee the seen filter state matches the seen table. The
        common case (state table committed last round) is a META check —
        zero Spark jobs, zero bytes. A pre-filter-table workdir (resume
        across layouts) or a ``forget`` invalidation pays ONE distributed
        rebuild pass over the exact table; a brand-new crawl pays nothing
        (the seed commit's fold creates version 1)."""
        if not self.seen_bits.exists() and self.seen.current_version() is not None:
            self.seen_bits.rebuild_from(self.seen.read(), "url")
        return self.seen_bits

    def _ensure_image_bits(self) -> FilterState:
        """Image-id twin of :meth:`_ensure_seen_bits` — folded forward by
        each round's image write job; rebuilt from the image table only
        on resume over a pre-filter-table workdir."""
        if not self.image_bits.exists() and self.images.current_version() is not None:
            self.image_bits.rebuild_from(
                self.images.read().select("image_id"), "image_id"
            )
        return self.image_bits

    def _probe_filters(self, df: DataFrame, key_col: str, state: FilterState):
        """Mark every row of ``df`` with ``__maybe__`` — whether its
        (shard, sub) filter might contain ``key_col`` (False where the
        pair has no filter yet, i.e. definitely new). Adds ``__shard__``
        (kept for downstream shard-routing) and returns
        ``(probed_df, cleanup_fn)``. Filters come FROM THE STATE TABLE —
        the driver never folds or retains bitsets.

        Two delivery modes, picked by the state's total_bytes snapshot
        meta against FILTER_BROADCAST_MAX_BYTES:

        - broadcast: the driver reads the pair files with pyarrow (plain
          file IO, not a Spark job — gated small by
          FILTER_BROADCAST_MAX_BYTES, and transient) and broadcasts once.
          Each worker deserializes ONLY the pairs present in its batches,
          once per round (memoized via seen.cached_filter keyed by a
          per-round token).
        - sharded: zero broadcast, zero driver bytes. Keys repartition by
          (shard, sub) and cogroup against the state table's
          (shard, sub, bits) scan; each task gets exactly its own pair's
          bitset through the shuffle and deserializes it once.
          Per-executor residency = the pairs it probes — the only shape
          that survives the 10^10-URL design point where the full filter
          set is tens of GB.

        The sub hash uses the STATE's seed (the same one its write jobs
        partition by): each pair's sub-filter contains only its own sub's
        keys, so routing must agree bit-for-bit."""
        spark = self.spark
        spec = state.spec
        sharded = state.total_bytes() > FILTER_BROADCAST_MAX_BYTES
        shard_col = state.shard_expr(key_col)
        sub_col = state.sub_expr(key_col)

        if not sharded:
            import uuid

            from pyspark.sql.functions import pandas_udf

            token = uuid.uuid4().hex
            n_sub = state.n_sub
            bcast = spark.sparkContext.broadcast((token, spec, state.collect_blobs()))

            @pandas_udf("boolean")
            def maybe(keys: pd.Series, shards: pd.Series, subs: pd.Series) -> pd.Series:
                import numpy as np

                from etlpy_spark.crawl.seen import cached_filter as _cf

                _tok, _spec, _parts = bcast.value
                sh = shards.to_numpy()
                su = subs.to_numpy()
                ka = keys.to_numpy()
                out = np.zeros(len(ka), dtype=bool)
                for p in np.unique(sh.astype(np.int64) * n_sub + su):
                    key = (int(p) // n_sub, int(p) % n_sub)
                    m = (sh == key[0]) & (su == key[1])
                    d = _parts.get(key)
                    if d is None:
                        continue  # no filter for this pair yet → all new
                    f = _cf(_tok, key, _spec, d)
                    out[m] = f.might_contain_many(ka[m])
                return pd.Series(out)

            probed = (
                df.withColumn("__shard__", shard_col)
                .withColumn("__sub__", sub_col)
                .withColumn(
                    "__maybe__",
                    maybe(F.col(key_col), F.col("__shard__"), F.col("__sub__")),
                )
                .drop("__sub__")
            )
            return probed, bcast.destroy

        # sharded cogroup delivery
        from pyspark.sql.types import BooleanType, StructField, StructType

        bits_df = state.bits_df()
        keyed = df.withColumn("__shard__", shard_col).withColumn("__sub__", sub_col)
        # fresh StructType — StructType.add would mutate keyed's CACHED
        # schema object and desync it from the actual plan
        out_schema = StructType(
            list(keyed.schema.fields) + [StructField("__maybe__", BooleanType())]
        )

        def probe(ldf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            from etlpy_spark.crawl.seen import filter_from_bytes as _fb

            # per-task residency contract: a cogroup task sees AT MOST its
            # own (shard, sub) bitset row — never another pair's bytes
            if len(bdf) > 1:
                raise ValueError(
                    f"probe task received {len(bdf)} filter rows for one group"
                )
            if len(bdf) == 0:
                maybe = np.zeros(len(ldf), dtype=bool)
            else:
                f = _fb(spec, bytes(bdf["bits"].iloc[0]))
                maybe = f.might_contain_many(ldf[key_col].to_numpy())
            return ldf.assign(__maybe__=maybe)

        probed = (
            keyed.groupby("__shard__", "__sub__")
            .cogroup(bits_df.groupby("shard", "sub"))
            .applyInPandas(probe, schema=out_schema)
            .drop("__sub__")
        )
        return probed, None

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
        """Run one crawl round and return its metrics row. Spark actions
        run in this order: the schedule's stats job, the large rank path's
        offset collects (fetch order, then discovered order), the fused
        seen write (it materializes the fetch cache and the whole link
        path), then the image write, which reads that fetch cache. So the
        seen + crawl-log commit precedes the image phase and the frontier
        + metrics commit follows it."""
        st = self.state()
        rnd = int(st["round"])
        base, selected, scheduled, robots_blocked = self._schedule(rnd)
        if scheduled == 0:
            base.unpersist()
            return {"round": rnd, "fetched": 0, "scheduled": 0}
        caches: list = [base]
        small = scheduled <= RANK_THRESHOLD
        selected, extracted, n_selected, log_txn = self._fetch(
            selected, rnd, int(st["next_fetch_seq"]), small, caches
        )
        new_frontier, n_new, probe_cleanup = self._new_links(
            extracted, rnd, int(st["next_discovered_seq"]), small, caches
        )
        fetched, n_new = self._commit_seen_and_log(
            new_frontier, rnd, log_txn, n_selected, n_new
        )
        n_images = self._image_path(extracted, rnd)
        m = self._commit_round(
            st, base, selected, new_frontier, scheduled=scheduled,
            robots_blocked=robots_blocked, fetched=fetched, n_new=n_new,
            n_images=n_images,
        )
        for c in caches:
            c.unpersist()
        if probe_cleanup is not None:
            # the per-round filter broadcast otherwise accumulates in the
            # SparkContext and on executors over a long many-round crawl
            # (sharded delivery has nothing to clean up — cleanup is None)
            probe_cleanup()
        return m

    def _schedule(self, rnd: int) -> tuple[DataFrame, DataFrame, int, int]:
        """Schedule phase: robots gate + politeness selection. Returns the
        cached robots-annotated frontier, the (lazy) selected rows, and the
        scheduled and robots-blocked counts from one stats job."""
        cfg = self.cfg
        frontier = self.read_frontier()

        # robots gate: broadcast join + any-prefix match (pure expressions).
        # The robots-annotated frontier is cached ONCE; the scheduled +
        # blocked counts, the politeness window, the fetch ranking and the
        # MoR tombstones all read the cache (each driver action is a full
        # Spark job; round fixed cost is what caps URLs/s).
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
        stats = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.col("__blocked__").cast("long")), F.lit(0)).alias("blk"),
        ).first()
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
        return base, selected, int(stats["n"]), int(stats["blk"])

    def _fetch(
        self, selected: DataFrame, rnd: int, fetch_base: int, small: bool,
        caches: list,
    ) -> tuple[DataFrame, DataFrame, int, tuple[int, str]]:
        """Fetch phase: global fetch order (fetch_rank), then fetch + parse
        inside politeness buckets, the crawl log written by the same tasks.
        Lazy apart from the large rank path's offset collect. Returns the
        ranked selected rows, the cached extracted (link, image) rows, the
        selected count (-1 on the small rank path) and the crawl log's
        reserved (version, dir)."""
        cfg = self.cfg
        # global fetch order (total: priority, discovered_seq unique). The
        # selected-row count is NOT aggregated up front (that would force a
        # full un-pruned window pass): the large rank path counts as a side
        # effect of its partition-offset collect, and the small path's
        # count arrives free from the crawl-log commit's parquet footers.
        selected, n_selected = global_rank(
            selected, ["__eprio__", "discovered_seq"], "fetch_seq", fetch_base,
            cfg.n_buckets, small=small, caches=caches, count=False,
        )
        selected = selected.drop("__eprio__")

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
                yield pd.DataFrame(out)
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
        return selected, extracted, n_selected, (v_log, log_dir)

    def _new_links(
        self, extracted: DataFrame, rnd: int, seq_base: int, small: bool,
        caches: list,
    ) -> tuple[DataFrame, int, Callable[[], None] | None]:
        """Link phase: canonicalize, keep-first dedup, seen-filter probe +
        anti-join of the filter-positive residue, discovered_seq rank.
        Lazy apart from the large rank path's offset collect. Returns the
        cached new-frontier rows, their count (-1 on the small rank path)
        and the probe's cleanup (or None)."""
        cfg = self.cfg
        # Extracted links are well-formed, so the JVM rlike fast path keeps
        # ~the whole multi-GB link stream out of the Python UDF entirely —
        # no Arrow round-trip for rows that are already canonical.
        from etlpy_spark.functions.url import canonicalize_split

        raw_links = extracted.filter(F.col("kind") == "link").select(
            "fetch_seq", "pos", "part", "value"
        )
        links = (
            canonicalize_split(raw_links, "value", "url")
            .select("fetch_seq", "pos", "part", "url")
            .filter(F.col("url").isNotNull())
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

        cleanup = None
        if self.seen.current_version() is None:
            # nothing is seen yet (a seedless crawl's first round after
            # recrawl): every link is new
            new_links = links
        else:
            # the shard id is computed JVM-side with the same
            # pmod(xxhash64(url), S) that keys the exact table, so each url
            # is checked against exactly its own shard's filter; the bitsets
            # reach the probe tasks shard-locally past the broadcast size
            # gate (see _probe_filters)
            links, cleanup = self._probe_filters(
                links, "url", self._ensure_seen_bits()
            )
            definitely_new = links.filter(~F.col("__maybe__")).drop("__maybe__", "__shard__")
            to_check = links.filter(F.col("__maybe__")).drop("__maybe__", "__shard__")
            seen_urls = self.seen.read().select("url")
            checked_new = to_check.join(seen_urls, on="url", how="left_anti")
            new_links = definitely_new.unionByName(checked_new)

        ranked_links, n_new = global_rank(
            new_links, ["fetch_seq", "pos"], "discovered_seq", seq_base,
            cfg.n_buckets, small=small, caches=caches, count=False,
        )
        new_frontier = ranked_links.select(
            "url", "discovered_seq",
            F.lit(rnd + 1).alias("round"), F.col("part").alias("lineage_part"),
        ).cache()
        caches.append(new_frontier)
        return new_frontier, n_new, cleanup

    def _commit_seen_and_log(
        self, new_frontier: DataFrame, rnd: int, log_txn: tuple[int, str],
        n_selected: int, n_new: int,
    ) -> tuple[int, int]:
        """Seen + crawl-log commit. The fused seen write materializes the
        new_frontier cache (whole link path: canon UDF → keep-first agg →
        filter probe → anti-join → rank) and returns the new-URL count in
        the same job. That job consumed every partition of the fetch
        cache, so all per-bucket log part files exist — manifest-commit
        them. Every selected row is logged exactly once, so the log's
        footer row count IS the fetched count. Returns (fetched, new URLs),
        taking the counts the large rank path already knows."""
        n_committed = self._commit_seen(
            new_frontier.select("url", F.lit(rnd + 1).alias("round"))
        )
        _, n_logged = self.log.commit_external(*log_txn, meta={"round": rnd})
        return (
            n_selected if n_selected >= 0 else n_logged,
            n_new if n_new >= 0 else n_committed,
        )

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
        istate = self.image_bits
        img_cleanup = None
        if self.images.current_version() is not None:
            # image-filter prefilter: filter-negative refs are
            # DEFINITELY new and skip the anti-join, so the growing
            # image table's image_id column is only scanned for the
            # (rare at steady state) filter-positive residue — the same
            # short-circuit the URL seen set uses. No false negatives →
            # the committed table stays exactly-deduped. Filter bitsets
            # reach the probe tasks shard-locally past the broadcast
            # size gate (see _probe_filters).
            refs, img_cleanup = self._probe_filters(
                refs, "image_id", self._ensure_image_bits()
            )
            fresh = refs.filter(~F.col("__maybe__")).drop("__maybe__")
            to_check = (
                refs.filter(F.col("__maybe__"))
                .drop("__maybe__")
                .join(self.images.read().select("image_id"), on="image_id", how="left_anti")
            )
            refs = fresh.unionByName(to_check)
        else:
            refs = refs.withColumn("__shard__", istate.shard_expr("image_id"))
        refs = refs.withColumn("__sub__", istate.sub_expr("image_id"))

        # bytes go Python→parquet→disk INSIDE the task; the Spark job only
        # carries a count row per group. Skips the Arrow transfer, the JVM
        # row copy and the JVM parquet encode for the ~300 KB binary
        # payloads — on the memory-bandwidth-bound image axis those copies
        # were the engine overhead on top of the raw codec kernel. Groups
        # are (shard, sub): the SAME task that writes the bytes folds this
        # round's ids into its pairs' image filters (previous-version read
        # + add + new-version write — see crawl/filterstate.py), so no
        # filter bytes leave the executors.
        v, data_dir = self.images.begin_external()
        img_layout = self.images.layout
        ibv, ibits_dir = istate.begin()
        prev_ib = istate.latest_dir()
        wspec = istate.spec
        web = cfg.web
        fail_dir = os.environ.get("ETLPY_FAIL_ONCE_DIR")
        CHUNK = 256  # bounds per-task memory: image BYTES never
        # accumulate beyond ~CHUNK rows per frame/file (a whole input
        # batch of 280 KB images in one frame OOMs at high task
        # concurrency — memory must not scale with parallelism)

        # explicit repartition, NOT groupBy+applyInPandas: this stage's
        # INPUT is narrow (id, caption) while its work is the whole
        # fetch+decode+phash+parquet pipeline — AQE coalesces the groupBy
        # shuffle by input bytes and ran the entire image axis in ONE task
        # (measured 4.5x slower at 8 cores). repartition(n, cols) pins the
        # partition count.
        #
        # Retry/speculation safety: a task CANNOT buffer its whole
        # partition of ~300 KB payloads (memory must not scale with
        # partition size), so instead of one deterministic file it writes
        # CHUNK-bounded files into a private attempt dir under
        # <data>.inprogress/ and, as its last step, atomically renames the
        # whole dir to part-{pid:05d}/ — first rename wins, a
        # losing/retried attempt discards its dir, and commit_external
        # sweeps .inprogress leftovers. Either attempt's dir holds the same
        # row set (the partition is a pure function of the round's input).
        # Filter pair files are deterministic-named and recomputed
        # identically by a retry (filterstate.write_pair).
        def write_part_imgs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import shutil
            import uuid

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            attempt = os.path.join(data_dir + ".inprogress", uuid.uuid4().hex)
            os.makedirs(attempt, exist_ok=True)
            folder = PairFolder(prev_ib, ibits_dir, wspec)
            n = 0
            chunk_no = 0
            wrote = False
            for pdf in batches:
                for lo in range(0, len(pdf), CHUNK):
                    sub = pdf.iloc[lo : lo + CHUNK]
                    if not len(sub):
                        continue
                    fn = os.path.join(attempt, f"chunk-{chunk_no:05d}.parquet")
                    chunk_no += 1
                    write_part(img_layout, _image_rows(sub, web, rnd), fn)
                    wrote = True
                    # injected AFTER a chunk landed: the retry must
                    # supersede a PARTIALLY-written attempt dir
                    _fail_once(fail_dir, "images", pid)
                for (s, u), g in pdf.groupby(["__shard__", "__sub__"]):
                    folder.add(int(s), int(u), g["image_id"].to_numpy())
                    n += len(g)
            if not wrote:
                shutil.rmtree(attempt, ignore_errors=True)
                return
            final = os.path.join(data_dir, f"part-{pid:05d}")
            try:
                os.rename(attempt, final)
            except OSError:
                # another attempt of this partition already committed the
                # identical row set — yield to it
                shutil.rmtree(attempt, ignore_errors=True)
            folder.flush()
            yield pd.DataFrame({"n": [n]})

        (
            refs.repartition(cfg.n_buckets, F.col("__shard__"), F.col("__sub__"))
            .mapInPandas(write_part_imgs, schema="n long")
            .collect()
        )
        istate.finish(ibv, ibits_dir, prev_ib)
        _, n_imgs = self.images.commit_external(v, data_dir, meta={"round": rnd})
        if img_cleanup is not None:
            img_cleanup()
        return int(n_imgs)

    def _commit_round(
        self, st: dict, base: DataFrame, selected: DataFrame,
        new_frontier: DataFrame, scheduled: int, robots_blocked: int,
        fetched: int, n_new: int, n_images: int,
    ) -> dict:
        """Round commit: one merge-on-read frontier commit appends the
        round's new URLs and tombstones the consumed ones (fetched +
        robots-blocked) — O(round-sized files), never O(pending); its
        snapshot meta is the crawl's resume state. Tombstones compact
        automatically past SnapshotTable's threshold (one distributed
        rewrite). Then the round's one metrics row, written in-process
        under a fixed part name (no Spark job): a crashed-round re-run
        rewrites the identical file under the identical name, which keeps
        the metrics table inside the streaming bridge's exactly-once
        contract. Returns the metrics."""
        rnd = int(st["round"])
        m = {
            "round": rnd,
            "scheduled": scheduled,
            "robots_blocked": robots_blocked,
            "fetched": fetched,
            "deferred": scheduled - robots_blocked - fetched,
            "new_urls": n_new,
            "new_images": n_images,
        }
        state_meta = {
            "round": rnd + 1,
            "next_fetch_seq": int(st["next_fetch_seq"]) + fetched,
            "next_discovered_seq": int(st["next_discovered_seq"]) + n_new,
            "metrics": m,
        }
        removed = selected.select("url").unionByName(
            base.filter(F.col("__blocked__")).select("url")
        )
        self.frontier.append_with_deletes(
            new_frontier, removed, key="url", meta=state_meta
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

    def _urls_df(self, urls) -> DataFrame:
        """Canonical, distinct url column from a list (Arrow path, like
        seeds) or a DataFrame with a ``url`` column (the scale path — a
        10^10-scale recrawl set never rides the driver)."""
        if isinstance(urls, DataFrame):
            raw = urls.select(F.col("url").cast("string").alias("raw"))
        else:
            raw = self.spark.createDataFrame(
                pd.DataFrame({"raw": pd.array(urls, dtype="string")}),
                schema="raw string",
            )
        canon = self._canon_udf()
        return (
            raw.select(canon(F.col("raw")).alias("url"))
            .filter(F.col("url").isNotNull())
            .distinct()
        )

    def recrawl(self, urls) -> int:
        """Stale-page refresh: re-enqueue URLs into the frontier so the next
        round refetches them. The seen set is NOT touched — it gates link
        *discovery*, not fetching, so a direct enqueue refetches regardless
        of membership while every invariant (exact seen table, link-path
        anti-joins, politeness/robots/priority ordering) holds unchanged.
        Newly appearing links on the refetched page are discovered normally.

        Rows get fresh ``discovered_seq`` values (ranked by url — pure-
        DataFrame and deterministic) and ``lineage_part = -2`` so recrawled
        lineage is distinguishable from seed (-1) and link parts (≥0).
        Returns the number of URLs enqueued (already-pending ones are
        skipped)."""
        # list inputs below the threshold take the cheap global-window rank;
        # DataFrame inputs are assumed big → two-phase ranged rank
        is_small = not isinstance(urls, DataFrame) and len(urls) <= RANK_THRESHOLD
        pending = self.frontier.read()
        tgt = self._urls_df(urls).join(
            pending.select("url"), on="url", how="left_anti"
        )
        st = self.state()
        rnd, seq_base = int(st["round"]), int(st["next_discovered_seq"])
        caches: list = []
        ranked, n = global_rank(
            tgt, ["url"], "discovered_seq", seq_base, self.cfg.n_buckets,
            small=is_small, caches=caches,
        )
        rows = ranked.select(
            "url", "discovered_seq",
            F.lit(rnd).alias("round"), F.lit(-2).alias("lineage_part"),
        )
        # append-only enqueue (pending rows stay in their files): with
        # sequence-aware tombstones a previously-fetched url appended here
        # is NOT re-deleted by old tombstones, so re-enqueue always lands
        self.frontier.append(
            rows,
            meta={
                "round": rnd,
                "next_fetch_seq": int(st["next_fetch_seq"]),
                "next_discovered_seq": seq_base + n,
                "recrawled": n,
            },
        )
        for c in caches:
            c.unpersist()
        return n

    def forget(self, urls) -> int:
        """Retract URLs from the seen set so they become *discoverable*
        again through links (domain purge-and-recrawl, takedown-then-allow).
        Retraction is O(changed rows), not O(table): the exact table gets
        equality-delete TOMBSTONES (``SnapshotTable.append_with_deletes``,
        the same merge-on-read primitive the frontier commits use) instead
        of the r2 full anti-join rewrite — at a 10^10-row seen set a
        rewrite per takedown request is not a thing. Accumulated tombstones
        auto-compact past the threshold. The in-memory shard filters are
        invalidated and lazily rebuilt from the updated table by the next
        round's ``_ensure_seen_bits`` (one distributed pass).

        The rebuild — not ``CuckooFilter.delete_many`` — is the correct path
        for the SHARED filters: ``add_many``/``merge`` collapse colliding
        (bucket, fingerprint) pairs to a single copy, so deleting URL X
        could also un-represent a colliding URL Y, a false negative the
        contract forbids. ``delete_many`` stays sound for privately built
        filters that never dedupe. Returns how many seen rows were
        retracted."""
        tgt = self._urls_df(urls)
        seen = self.seen.read()
        # cache the semi-join RESULT, not the target list: the join scans
        # the (10^10-row design point) seen table, and both the count and
        # the tombstone write read `hits` — caching tgt alone would pay
        # that full scan twice
        hits = tgt.join(seen, on="url", how="left_semi").cache()
        removed = hits.count()
        if removed:
            # tombstone exactly the urls that ARE in the table (tombstone
            # stats drive compaction; phantom keys would skew them)
            self.seen.append_with_deletes(
                self.spark.createDataFrame([], SEEN_DDL), hits, key="url"
            )
            self.seen_bits.invalidate()  # rebuilt distributed, on demand
        hits.unpersist()
        return int(removed)

    # -- results for parity checks ------------------------------------------

    def crawl_log_list(self) -> list[tuple[int, str]]:
        rows = self.log.read().orderBy("fetch_seq").select("fetch_seq", "url").collect()
        return [(r.fetch_seq, r.url) for r in rows]

    def seen_urls_list(self) -> set[str]:
        return {r.url for r in self.seen.read().select("url").collect()}
