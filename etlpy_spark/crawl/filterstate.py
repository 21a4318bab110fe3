"""Distributed authority for the crawl's seen/image membership filters.

Round 4 fixed the EXECUTOR side of the filter scale problem (sharded
cogroup delivery, per-worker memoization) but the DRIVER still folded,
held, and re-shipped every shard's bitset every round — ~12 GB of driver
memory + network at the 10^10-URL design point. This module makes a
persisted table the filter authority instead:

- State = one ``SnapshotTable`` of ``(shard, sub, bits)`` rows
  (``BITS_LAYOUT``), one tiny parquet file per (shard, sub) pair with a
  DETERMINISTIC name, committed as a new snapshot version per crawl round
  (mode=overwrite).
- Fold-forward is DISTRIBUTED: the same executor task that writes a
  round's seen/image part files reads ITS pairs' previous-version files
  (pyarrow, a few KB-MB each), adds the round's new keys, and writes the
  new version's files. Pairs untouched this round are carried forward by
  hard link (driver-side, O(#files) metadata ops, zero bytes read).
- Probes read the table: sharded delivery cogroups keys with
  ``bits_df()`` (a parquet scan — each probe task receives exactly its
  own pair's bitset through the shuffle); broadcast delivery (gated to
  small totals) reads the pair files driver-side with pyarrow — file IO,
  not a Spark job — and broadcasts once.

The driver keeps GEOMETRY ONLY (spec tuple, shard/sub counts, byte totals
from snapshot meta). In steady state it neither collects nor retains any
filter bytes; the transient broadcast-mode read is gated by
``FILTER_BROADCAST_MAX_BYTES`` and at the design point the auto mode is
sharded, where the driver handles zero filter bytes.

Key routing: a key belongs to pair ``(pmod(xxhash64(key), n_shards),
pmod(xxhash64(key, sub_seed), n_sub))``. The sub hash MUST use the same
seed on the write and probe sides — unlike r4's replicated-full-shard
delivery, each sub-filter only contains its own sub's keys. No false
negatives (the exact table stays the authority; filters only short-cut
the definitely-new case), so filter contents never change crawl results.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etlpy_spark.sources.catalog import SnapshotTable, TableLayout, write_part

BITS_DDL = "shard int, sub int, bits binary"
BITS_LAYOUT = TableLayout(BITS_DDL)


def pair_name(shard: int, sub: int) -> str:
    return f"bits-{shard:05d}-{sub:05d}.parquet"


# -- executor-side primitives (module-level: pickled by reference) ----------


def read_pair(dir_: str | None, shard: int, sub: int, spec: tuple):
    """Deserialize one (shard, sub) pair's filter from a state dir, or
    None when the pair has no file yet (no keys ever folded)."""
    if not dir_:
        return None
    path = os.path.join(dir_, pair_name(shard, sub))
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq

    from etlpy_spark.crawl.seen import filter_from_bytes

    bits = pq.read_table(path, columns=["bits"])["bits"][0].as_py()
    return filter_from_bytes(spec, bits)


def write_pair(dir_: str, shard: int, sub: int, bits: bytes) -> None:
    """Write one pair file under its DETERMINISTIC name — a retried or
    speculated task recomputes the identical filter (a pure function of
    the previous version + its partition's keys) and replaces its own
    output instead of duplicating it."""
    write_part(
        BITS_LAYOUT, {"shard": [shard], "sub": [sub], "bits": [bits]},
        os.path.join(dir_, pair_name(shard, sub)),
    )


class PairFolder:
    """Accumulates a task's keys into its (shard, sub) filters and writes
    the new version's pair files. First touch of a pair loads the
    previous version's file (fold-forward happens IN the task); flush()
    writes every touched pair. Memory = the task's own pairs' filters —
    O(pairs per partition), which the (shard, sub) partitioner makes ~1."""

    def __init__(self, prev_dir: str | None, new_dir: str, spec: tuple):
        self.prev_dir, self.new_dir, self.spec = prev_dir, new_dir, spec
        self.filters: dict = {}

    def add(self, shard: int, sub: int, keys) -> None:
        from etlpy_spark.crawl.seen import new_filter

        f = self.filters.get((shard, sub))
        if f is None:
            f = read_pair(self.prev_dir, shard, sub, self.spec)
            if f is None:
                f = new_filter(self.spec)
            self.filters[(shard, sub)] = f
        f.add_many(keys)

    def flush(self) -> None:
        for (s, u), f in self.filters.items():
            write_pair(self.new_dir, s, u, f.to_bytes())
        self.filters = {}


# -- driver-side state handle -------------------------------------------------


class FilterState:
    """Handle on one filter-state table (seen URLs or image ids). Holds
    geometry only — spec tuple, shard/sub counts, sub-hash seed; byte
    totals come from snapshot meta, never from reading filter data."""

    def __init__(self, spark: SparkSession, path: str, spec: tuple,
                 n_shards: int, n_sub: int, sub_seed: int):
        self.spark = spark
        self.table = SnapshotTable(spark, path, BITS_LAYOUT)
        self.spec = spec
        self.n_shards = n_shards
        self.n_sub = max(1, n_sub)
        self.sub_seed = sub_seed
        self._stale = False

    # -- geometry / expressions

    def shard_expr(self, key_col: str):
        return F.pmod(F.xxhash64(key_col), F.lit(self.n_shards)).cast("int")

    def sub_expr(self, key_col: str):
        return F.pmod(
            F.xxhash64(key_col, F.lit(self.sub_seed)), F.lit(self.n_sub)
        ).cast("int")

    # -- state inspection (meta only)

    def exists(self) -> bool:
        return (not self._stale) and self.table.current_version() is not None

    def latest_dir(self) -> str | None:
        v = self.table.current_version()
        if v is None or self._stale:
            return None
        return self.table.snapshot(v).data_dirs[-1]

    def total_bytes(self) -> int:
        v = self.table.current_version()
        if v is None or self._stale:
            return 0
        return int(self.table.snapshot(v).meta.get("total_bytes", 0))

    def invalidate(self) -> None:
        """Mark state stale (e.g. after ``forget`` retracts seen rows):
        the next ensure() rebuilds from the exact table. A stale filter
        is never WRONG (extra keys = false positives only), so a process
        restart that loses this flag degrades FP rate, not correctness."""
        self._stale = True

    # -- commit protocol

    def begin(self) -> tuple[int, str]:
        """Reserve the next version's dir. A crashed earlier attempt may
        have left pair files in it (versions only advance on commit);
        clear them so carried-forward pairs stay tight."""
        v, d = self.table.begin_external()
        for fn in os.listdir(d):
            try:
                os.remove(os.path.join(d, fn))
            except OSError:
                pass
        return v, d

    def finish(self, version: int, new_dir: str, prev_dir: str | None,
               meta: dict | None = None) -> None:
        """Carry forward every pair the round's job did NOT rewrite (hard
        link from the previous version — metadata ops only, no bytes),
        then manifest-commit the new version. Driver-side cost is
        O(#pair files); it never opens one."""
        if prev_dir and os.path.isdir(prev_dir):
            have = set(os.listdir(new_dir))
            for fn in os.listdir(prev_dir):
                if fn.startswith("bits-") and fn.endswith(".parquet") \
                        and fn not in have:
                    src, dst = os.path.join(prev_dir, fn), os.path.join(new_dir, fn)
                    try:
                        os.link(src, dst)
                    except OSError:
                        shutil.copyfile(src, dst)
        files = [fn for fn in os.listdir(new_dir)
                 if fn.startswith("bits-") and fn.endswith(".parquet")]
        total = sum(os.path.getsize(os.path.join(new_dir, fn)) for fn in files)
        self.table.commit_external(
            version, new_dir, mode="overwrite",
            meta={**(meta or {}), "total_bytes": total, "n_pairs": len(files)},
        )
        self._stale = False

    # -- probe-side access

    def bits_df(self) -> DataFrame:
        """The authoritative (shard, sub, bits) rows as a DataFrame — a
        parquet scan of the latest version, for cogroup delivery."""
        d = self.latest_dir()
        if d is None:
            return self.spark.createDataFrame([], BITS_DDL)
        return self.spark.read.schema(BITS_DDL).parquet(d)

    def collect_blobs(self) -> dict:
        """{(shard, sub): bits} read driver-side with pyarrow — plain
        file IO, not a Spark job. Broadcast-mode only; callers gate on
        ``total_bytes() <= FILTER_BROADCAST_MAX_BYTES`` so this is the
        small case by construction. Transient: the caller broadcasts and
        drops the dict — nothing is retained across rounds."""
        d = self.latest_dir()
        out: dict = {}
        if d is None:
            return out
        import pyarrow.parquet as pq

        for fn in os.listdir(d):
            if fn.startswith("bits-") and fn.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, fn))
                for i in range(t.num_rows):
                    out[(int(t["shard"][i].as_py()), int(t["sub"][i].as_py()))] = \
                        t["bits"][i].as_py()
        return out

    # -- full (re)build from the exact table

    def rebuild_from(self, keys_df: DataFrame, key_col: str) -> None:
        """One distributed pass over the exact table → a fresh state
        version (resume over a pre-filter-table workdir, or a ``forget``
        invalidation). Tasks write their own pair files; the driver sees
        only a count row per partition."""
        v, new_dir = self.begin()
        spec = self.spec
        nb = self.n_shards * self.n_sub

        def build(batches):
            import pandas as pd

            folder = PairFolder(None, new_dir, spec)
            n = 0
            for pdf in batches:
                for (s, u), g in pdf.groupby(["__shard__", "__sub__"]):
                    folder.add(int(s), int(u), g[key_col].to_numpy())
                    n += len(g)
            folder.flush()
            yield pd.DataFrame({"n": [n]})

        rows = keys_df.select(
            self.shard_expr(key_col).alias("__shard__"),
            self.sub_expr(key_col).alias("__sub__"),
            key_col,
        )
        # explicit repartition (AQE-exempt): the rows are narrow but the
        # per-key hashing work is not — a groupBy shuffle would coalesce
        # by input bytes and serialize the build
        rows.repartition(nb, "__shard__", "__sub__").mapInPandas(
            build, schema="n long"
        ).collect()
        self.finish(v, new_dir, prev_dir=None)
