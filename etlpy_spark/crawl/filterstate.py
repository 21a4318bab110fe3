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
- The state only GROWS: only the write-and-fold commits that add keys
  to its exact table change it, so it is a pure function of that table's
  commit history. ``forget`` tombstones the table and leaves the filter
  alone; extra keys only add false positives (``new_rows`` anti-joins the
  positives), so a state ahead of its table needs no rollback.
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
- Dedup is written once, here: ``FilterState.new_rows`` (ensure, probe,
  anti-join of the filter-positive residue against the exact table)
  serves the seen set and the image table alike, and ``PairFolder.fold``
  is the one fold of a routed frame, used by the crawl's write-and-fold
  tasks and by ``rebuild_from``.

The driver keeps GEOMETRY ONLY (spec tuple, shard/sub counts, byte totals
from snapshot meta). In steady state it neither collects nor retains any
filter bytes; the transient broadcast-mode read is gated by
``FILTER_BROADCAST_MAX_BYTES`` and at the design point the auto mode is
sharded, where the driver handles zero filter bytes.

Key routing: a key belongs to pair ``p = pmod(hash(key), n_shards *
n_sub)``, i.e. shard ``p % n_shards`` and sub ``p // n_shards``. ``hash``
is the murmur3 hash Spark's hash partitioner uses, so the write and
rebuild jobs' ``repartition(n_shards * n_sub, key)`` puts exactly pair
``p`` in task ``p``: one pair per task, however the pairs' hashes fall.
Write and probe sides MUST route alike — each sub-filter only contains
its own sub's keys — so the state's meta records the routing and
``ensure`` rebuilds a state written under another. No false negatives
(the exact table stays the authority; filters only short-cut the
definitely-new case), so filter contents never change crawl results.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etlpy_spark.sources.catalog import SnapshotTable, TableLayout, write_part

BITS_DDL = "shard int, sub int, bits binary"
BITS_LAYOUT = TableLayout(BITS_DDL)
# probes switch from broadcast to sharded delivery once the serialized
# filter set exceeds this many bytes (see FilterState.probe)
FILTER_BROADCAST_MAX_BYTES = 64 << 20


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

    def fold(self, pdf, key_col: str) -> int:
        """Add a frame's ``key_col`` keys, routed by its ``__shard__`` /
        ``__sub__`` columns; returns the row count."""
        for (s, u), g in pdf.groupby(["__shard__", "__sub__"]):
            self.add(int(s), int(u), g[key_col].to_numpy())
        return len(pdf)

    def flush(self) -> None:
        for (s, u), f in self.filters.items():
            write_pair(self.new_dir, s, u, f.to_bytes())
        self.filters = {}


# -- driver-side state handle -------------------------------------------------


class FilterState:
    """Handle on one filter-state table (seen URLs or image ids). Holds
    geometry only — spec tuple, shard/sub counts; byte totals come from
    snapshot meta, never from reading filter data."""

    def __init__(self, spark: SparkSession, path: str, spec: tuple,
                 n_shards: int, n_sub: int):
        self.spark = spark
        self.table = SnapshotTable(spark, path, BITS_LAYOUT)
        self.spec = spec
        self.n_shards = n_shards
        self.n_sub = max(1, n_sub)
        # recorded in the state's meta (see the module docstring)
        self.routing = f"pmod(hash(key), {n_shards}*{self.n_sub})"

    # -- geometry / expressions

    def _pair_expr(self, key_col: str):
        return F.pmod(F.hash(key_col), F.lit(self.n_shards * self.n_sub))

    def shard_expr(self, key_col: str):
        return (self._pair_expr(key_col) % self.n_shards).cast("int")

    def sub_expr(self, key_col: str):
        return (self._pair_expr(key_col) / self.n_shards).cast("int")

    def routed(self, df: DataFrame, key_col: str) -> DataFrame:
        """``df`` plus its keys' ``__shard__`` / ``__sub__`` columns — the
        routing every fold task partitions by and :meth:`PairFolder.fold`
        reads."""
        return df.withColumn("__shard__", self.shard_expr(key_col)).withColumn(
            "__sub__", self.sub_expr(key_col)
        )

    def by_pair(self, df: DataFrame, key_col: str) -> DataFrame:
        """``routed(df)`` with partition ``p`` holding exactly pair ``p``'s
        rows: a task's fold is the COMPLETE new state of its one pair. Not
        a groupBy, whose shuffle AQE would coalesce by input bytes: key
        rows are narrow while the per-key work is not."""
        return self.routed(df, key_col).repartition(
            self.n_shards * self.n_sub, key_col
        )

    # -- state inspection (meta only)

    def exists(self) -> bool:
        return self.table.current_version() is not None

    def latest_dir(self) -> str | None:
        v = self.table.current_version()
        if v is None:
            return None
        return self.table.snapshot(v).data_dirs[-1]

    def total_bytes(self) -> int:
        v = self.table.current_version()
        if v is None:
            return 0
        return int(self.table.snapshot(v).meta.get("total_bytes", 0))

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
            meta={**(meta or {}), "total_bytes": total, "n_pairs": len(files),
                  "routing": self.routing},
        )

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
        version (see :meth:`ensure`). Tasks write their own pair files;
        the driver sees only a count row per partition."""
        v, new_dir = self.begin()
        spec = self.spec

        def build(batches):
            folder = PairFolder(None, new_dir, spec)
            n = sum(folder.fold(pdf, key_col) for pdf in batches)
            folder.flush()
            yield pd.DataFrame({"n": [n]})

        self.by_pair(keys_df.select(key_col), key_col).mapInPandas(
            build, schema="n long"
        ).collect()
        self.finish(v, new_dir, prev_dir=None)

    def ensure(self, table: SnapshotTable, key_col: str) -> "FilterState":
        """Guarantee a state routed like this handle exists for ``table``,
        the exact key table it filters: a META check — zero Spark jobs,
        zero bytes — whenever it does. Its one remaining job is recovery:
        a state that is missing (deleted, or a workdir from before filter
        tables) or routed another way (older routing or geometry: keys
        would probe the wrong pair) while ``table`` has a snapshot pays
        ONE distributed :meth:`rebuild_from` pass. A table with no snapshot
        has nothing to rebuild (its first commit's fold creates the state)."""
        if table.current_version() is not None and \
                self.table.latest_meta().get("routing") != self.routing:
            self.rebuild_from(table.read(), key_col)
        return self

    # -- dedup against the exact table

    def new_rows(
        self, df: DataFrame, key_col: str, table: SnapshotTable
    ) -> tuple[DataFrame, Callable[[], None]]:
        """The rows of ``df`` whose ``key_col`` is not in ``table``, and a
        cleanup to call once they are consumed. Filter-negative keys are
        DEFINITELY new and skip the anti-join, so only the filter-positive
        residue (rare at steady state) is joined against the growing exact
        table. No false negatives, so the result is exact. A table with no
        snapshot yet holds nothing: every row is new.

        The probed rows are cached, so the probe runs once per row of
        ``df`` and both branches read that cache. Without it, each branch
        re-evaluates the probe, and Catalyst infers ``maybe(key)`` as a
        filter on the exact table's scan through the anti-join's key, so
        the probe would also run over every key of ``table``. The cleanup
        drops the cache and the probe's broadcast."""
        if table.current_version() is None:
            return df, lambda: None
        probed, destroy = self.ensure(table, key_col).probe(df, key_col)
        probed = probed.drop("__shard__").cache()
        fresh = probed.filter(~F.col("__maybe__")).drop("__maybe__")
        residue = (
            probed.filter(F.col("__maybe__"))
            .drop("__maybe__")
            .join(table.read().select(key_col), on=key_col, how="left_anti")
        )

        def cleanup() -> None:
            probed.unpersist()
            destroy()

        return fresh.unionByName(residue), cleanup

    def probe(
        self, df: DataFrame, key_col: str
    ) -> tuple[DataFrame, Callable[[], None]]:
        """Mark every row of ``df`` with ``__maybe__`` — whether its
        (shard, sub) filter might contain ``key_col`` (False where the
        pair has no filter yet, i.e. definitely new). Adds ``__shard__``
        and returns ``(probed_df, cleanup_fn)``; the frame is lazy, so each
        action over it runs the probe again (``new_rows`` caches it).
        Filters come FROM THE STATE TABLE — the driver never folds or
        retains bitsets.

        Two delivery modes, picked by :meth:`total_bytes` against
        FILTER_BROADCAST_MAX_BYTES:

        - broadcast: the driver reads the pair files with pyarrow (plain
          file IO, not a Spark job — gated small, and transient) and
          broadcasts once. Each worker deserializes ONLY the pairs present
          in its batches, once per round (memoized via seen.cached_filter
          keyed by a per-round token). The cleanup destroys the broadcast.
        - sharded: zero broadcast, zero driver bytes. Keys repartition by
          (shard, sub) and cogroup against :meth:`bits_df`; each task gets
          exactly its own pair's bitset through the shuffle and
          deserializes it once. Per-executor residency = the pairs it
          probes — the only shape that survives the 10^10-URL design
          point where the full filter set is tens of GB. The cleanup does
          nothing.

        Keys route as the state's write jobs route them: each pair's
        sub-filter contains only its own sub's keys."""
        spec = self.spec
        keyed = self.routed(df, key_col)

        if self.total_bytes() <= FILTER_BROADCAST_MAX_BYTES:
            import uuid

            from pyspark.sql.functions import pandas_udf

            token = uuid.uuid4().hex
            n_sub = self.n_sub
            bcast = self.spark.sparkContext.broadcast(
                (token, spec, self.collect_blobs())
            )

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

            probed = keyed.withColumn(
                "__maybe__",
                maybe(F.col(key_col), F.col("__shard__"), F.col("__sub__")),
            ).drop("__sub__")
            return probed, bcast.destroy

        from pyspark.sql.types import BooleanType, StructField, StructType

        # fresh StructType — StructType.add would mutate keyed's CACHED
        # schema object and desync it from the actual plan
        out_schema = StructType(
            list(keyed.schema.fields) + [StructField("__maybe__", BooleanType())]
        )

        def probe_pair(ldf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
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
            .cogroup(self.bits_df().groupby("shard", "sub"))
            .applyInPandas(probe_pair, schema=out_schema)
            .drop("__sub__")
        )
        return probed, lambda: None
