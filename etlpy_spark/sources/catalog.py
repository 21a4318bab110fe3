"""Snapshot table catalog — Iceberg table semantics on plain Parquet.

The north_rule calls for Iceberg tables (frontier, seen shards, image +
caption) with snapshot checkpoints and resume. No Iceberg runtime jar ships
in this sandbox (no network for artifacts), so this module provides the
same contract on a parquet+manifest layout, and the crawl engine only ever
talks to this API — pointing it at a real Iceberg catalog later is a
drop-in (`append` → ``df.writeTo(t).append()``, `merge_upsert` →
``MERGE INTO``, `version` → Iceberg snapshot-id time travel).

Layout (one directory per table):
    data/v{N:06d}/part-*.parquet   -- one data dir per committed snapshot
    data/v{N:06d}.del/             -- equality-delete (tombstone) keys
    snapshots/v{N:06d}.json        -- manifest: mode, data dirs, tombstones,
                                      merge-on-read stats, meta
    _current                       -- name of latest snapshot (atomic rename)

This module is the only code that knows how a table's bytes reach disk.
Two rules, each written once:

- How a part file lands: :func:`write_part`. A table that declares a
  :class:`TableLayout` (schema as a Spark DDL string, sort, per-column
  encodings, compression) gets every data and tombstone file from this one
  picklable function — in the calling process, in the catalog's own
  write job, or inside an engine task that writes its rows as a side
  effect. Columns are built against the declared schema, sorted, encoded,
  and renamed from a tmp name onto the caller's deterministic name, so a
  retried or speculated task replaces its own identical output instead of
  adding a file. Tables without a layout (ad-hoc operator tables) use the
  Spark writer.
- How a snapshot chains onto the previous one:
  ``SnapshotTable._commit_manifest``. Every commit (Spark-written,
  externally written, merge-on-read) builds its manifest there: an append
  carries the previous data dirs, tombstones and live-row stats forward, an
  overwrite starts a fresh chain. The manifest is written first, then
  ``_current`` is swapped atomically (os.replace): a crashed writer leaves
  the table at the previous snapshot, which is exactly the resume point
  (generalizes the reference master's ``skip=`` job resume,
  distributed.py:42,62-63). A multi-table commit record (every table
  version one crawl round wrote, rolled back together with
  ``rollback_to``) hooks in at that one helper.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


# Spark DDL simple-string → pyarrow type, for the declared table layouts
def _pa_types() -> dict:
    import pyarrow as pa

    return {
        "string": pa.string(),
        "bigint": pa.int64(),
        "long": pa.int64(),
        "int": pa.int32(),
        "smallint": pa.int16(),
        "tinyint": pa.int8(),
        "double": pa.float64(),
        "float": pa.float32(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
    }


class _LazyPaTypes:
    def __getitem__(self, key: str):
        try:
            return _pa_types()[key]
        except KeyError:
            raise KeyError(
                f"no pyarrow mapping for Spark type {key!r}; extend _pa_types"
            ) from None


_PA_TYPES = _LazyPaTypes()


@dataclass
class TableLayout:
    """How a table's parquet files look on disk, declared once per table.
    Picklable: executor tasks that write part files capture it.

    ``ddl`` is the schema as a Spark DDL string of simple types ("url
    string, round int"); the pyarrow schema derives from it. ``sort`` is
    the sorted-within-file order (Iceberg "sort order"): crawl URLs share
    long prefixes, so sorted files compress better — measured 45 -> 29 MB
    for a 2M-row URL table — for in-partition CPU only, no shuffle.
    ``encodings`` maps columns to a parquet encoding; those columns skip
    the dictionary so the encoding applies (sorted URLs under
    DELTA_BYTE_ARRAY: ~5 B/row vs ~15 B dict+snappy, 17 -> 9 MB on a 2M-row
    table). Bytes through the write path are the non-scaling resource on a
    shared bus / disk (BENCH/BASELINE.md). ``compression`` is a pyarrow
    codec name; "none" for payloads that are already compressed (PNG
    bytes: re-deflating them costs a CPU + copy pass per row for ~0
    gain)."""

    ddl: str
    sort: tuple[str, ...] = ()
    encodings: dict[str, str] = field(default_factory=dict)
    compression: str = "snappy"

    def columns(self) -> list[tuple[str, str]]:
        return [tuple(c.split()) for c in self.ddl.split(",")]

    def pa_schema(self):
        import pyarrow as pa

        return pa.schema([(n, _PA_TYPES[t]) for n, t in self.columns()])

    def tombstones(self, key: str) -> "TableLayout":
        """Layout of the key-only equality-delete files: the key column,
        sorted, with the key's encoding."""
        (typ,) = [t for n, t in self.columns() if n == key]
        enc = {c: e for c, e in self.encodings.items() if c == key}
        return TableLayout(f"{key} {typ}", (key,), enc, self.compression)


def write_part(layout: TableLayout, cols, path: str) -> int:
    """Write one part file of a ``layout`` table at ``path`` and return its
    row count. ``cols`` is a pandas DataFrame or a dict of column lists
    holding (at least) the layout's columns. The file lands via a tmp name
    in the same directory + os.replace, so a re-run of the same task
    replaces its own identical output (the rows are a pure function of the
    task's input and the sort makes the bytes one too)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = layout.pa_schema()
    if isinstance(cols, dict):
        tbl = pa.Table.from_pydict({n: cols[n] for n in schema.names}, schema=schema)
    else:
        tbl = pa.Table.from_pandas(cols[schema.names], schema=schema, preserve_index=False)
    if layout.sort:
        tbl = tbl.sort_by([(c, "ascending") for c in layout.sort])
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    pq.write_table(
        tbl, tmp,
        compression=layout.compression,
        column_encoding=layout.encodings or None,
        use_dictionary=[n for n in schema.names if n not in layout.encodings],
    )
    os.replace(tmp, path)
    return tbl.num_rows


def parquet_files(data_dir: str) -> list[str]:
    """All committed parquet files under a data dir, recursively (external
    writers may commit whole per-partition directories), skipping tmp/
    hidden entries (.tmp-*, _*) that a killed straggler may leave behind."""
    out: list[str] = []
    for root, dirs, files in os.walk(data_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return sorted(out)


@dataclass
class Snapshot:
    version: int
    mode: str  # 'append' | 'overwrite'
    data_dirs: list[str]
    meta: dict
    # merge-on-read state (Iceberg equality-delete files): entries of
    # {"dir": <key-only parquet dir>, "upto": <data-dir index bound>} —
    # a tombstone deletes ONLY from data dirs with index < upto (the
    # Iceberg sequence-number rule: deletes never touch files added
    # after them, so a later re-append of the same key survives), plus
    # the key column name and cumulative (data, tomb) footer-row stats
    # driving compaction
    delete_dirs: list[dict] | None = None
    delete_key: str | None = None
    mor_stats: dict | None = None

    @property
    def name(self) -> str:
        return f"v{self.version:06d}"


class SnapshotTable:
    def __init__(
        self, spark: SparkSession, path: str, layout: TableLayout | None = None
    ):
        # manifests (snapshots/, _current) are written with local os I/O
        # while the data dirs go through the Spark writer — a URI-scheme
        # path (hdfs://, s3a://) would split-brain the table: data on the
        # remote FS, manifests in a literal './hdfs:' directory. Require a
        # local / shared-mount path; porting to object storage means
        # routing BOTH through one FS API (or a real Iceberg catalog).
        if "://" in path and not path.startswith("file://"):
            raise ValueError(
                f"SnapshotTable path {path!r} uses a URI scheme; only local/"
                "shared-filesystem paths are supported (manifest I/O is local)"
            )
        if path.startswith("file://"):
            path = path[len("file://"):]
        self.spark = spark
        self.path = path
        # the declared layout: every file of the table is written by
        # write_part with it (None = the Spark writer, inferred schema)
        self.layout = layout
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- snapshot bookkeeping

    def _snap_path(self, version: int) -> str:
        return os.path.join(self.path, "snapshots", f"v{version:06d}.json")

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.path, "data", f"v{version:06d}")

    def current_version(self) -> int | None:
        cur = os.path.join(self.path, "_current")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return int(f.read().strip())

    def snapshot(self, version: int) -> Snapshot:
        with open(self._snap_path(version)) as f:
            d = json.load(f)
        return Snapshot(
            version=d["version"], mode=d["mode"], data_dirs=d["data_dirs"],
            meta=d["meta"], delete_dirs=d.get("delete_dirs"),
            delete_key=d.get("delete_key"), mor_stats=d.get("mor_stats"),
        )

    def history(self) -> list[Snapshot]:
        out = []
        v = self.current_version()
        if v is None:
            return out
        for i in range(1, v + 1):
            if os.path.exists(self._snap_path(i)):
                out.append(self.snapshot(i))
        return out

    # -- commits

    def _write_data_dir(
        self, df: DataFrame, data_dir: str, layout: TableLayout | None = None
    ) -> None:
        """Write ``df``'s rows as parquet under ``data_dir`` with ``layout``
        (default: the table's). Without a layout this is the Spark writer.
        With one, each task buffers its partition and writes ONE
        ``part-{pid:05d}.parquet`` through :func:`write_part`, so a retried
        or speculated task replaces its own identical output instead of
        duplicating rows."""
        layout = layout or self.layout
        if layout is None:
            df.write.mode("overwrite").parquet(data_dir)
            return
        os.makedirs(data_dir, exist_ok=True)

        def write(batches):
            import pandas as pd
            from pyspark import TaskContext

            parts = [pdf for pdf in batches if len(pdf)]
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            pid = TaskContext.get().partitionId()
            path = os.path.join(data_dir, f"part-{pid:05d}.parquet")
            yield pd.DataFrame({"n": [write_part(layout, pdf, path)]})

        if not df.mapInPandas(write, schema="n long").collect():
            # an empty snapshot must still be readable with its schema
            # (spark.read.parquet cannot infer from zero files)
            empty = {n: [] for n, _ in layout.columns()}
            write_part(layout, empty, os.path.join(data_dir, "part-empty.parquet"))

    def _commit_manifest(
        self, v: int, mode: str, data_dir: str, meta: dict | None,
        rows: int | None = None, tombstones: tuple[str, str] | None = None,
    ) -> dict:
        """Make snapshot ``v`` (``data_dir`` already written) the current
        one — the single place a snapshot chains onto its predecessor.

        ``append`` carries the previous data dirs forward, and with them
        the tombstones (they delete from those old dirs only) and the
        merge-on-read stats. The stats must COUNT the appended ``rows``
        (footer total of ``data_dir``, read when not given): a frozen
        live-row count makes a later tiny retraction trip a full
        compaction. ``overwrite`` starts a fresh chain: no old data, no
        tombstones. ``tombstones=(key, del_dir)`` adds an equality-delete
        dir that applies to the data dirs committed BEFORE this one
        (Iceberg sequence numbers: rows appended in this commit or a later
        one with a deleted key stay live). Returns the manifest."""
        ps = None
        if mode == "append" and (prev := self.current_version()):
            ps = self.snapshot(prev)
        prev_dirs = ps.data_dirs if ps else []
        snap = {"version": v, "mode": mode, "data_dirs": prev_dirs + [data_dir],
                "meta": dict(meta or {})}
        dels = list(ps.delete_dirs or []) if ps else []
        key = ps.delete_key if ps else None
        stats = ps.mor_stats if ps else None
        if tombstones:
            tkey, del_dir = tombstones
            if key not in (None, tkey):
                raise ValueError(f"table already has tombstones keyed by {key!r}")
            key = tkey
            dels.append({"dir": del_dir, "upto": len(prev_dirs)})
            if stats is None:
                # first MoR commit on this table: seed the live-row count
                # from the pre-existing data files (footer metadata only)
                stats = {"data": sum(self._footer_rows(d) for d in prev_dirs
                                     if os.path.exists(d)),
                         "tomb": 0}
            stats = {**stats, "tomb": stats["tomb"] + self._footer_rows(del_dir)}
        if dels:
            snap["delete_dirs"] = dels
            snap["delete_key"] = key
            if stats:
                if rows is None:
                    rows = self._footer_rows(data_dir)
                snap["mor_stats"] = {**stats, "data": stats["data"] + rows}
        tmp = self._snap_path(v) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, self._snap_path(v))
        self._set_current(v)
        return snap

    def _set_current(self, version: int) -> None:
        cur_tmp = os.path.join(self.path, "_current.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(version))
        os.replace(cur_tmp, os.path.join(self.path, "_current"))

    def _commit(self, df: DataFrame, mode: str, meta: dict | None) -> int:
        v = (self.current_version() or 0) + 1
        data_dir = self._data_dir(v)
        self._write_data_dir(df, data_dir)
        self._commit_manifest(v, mode, data_dir, meta)
        return v

    def append(self, df: DataFrame, meta: dict | None = None) -> int:
        return self._commit(df, "append", meta)

    def append_counted(self, df: DataFrame, meta: dict | None = None) -> tuple[int, int]:
        """Append and return (version, rows written). The count comes from
        the freshly written parquet footers (metadata-only scan) — cheaper
        than caching the input just to count it (matters when rows carry
        image bytes)."""
        v = self._commit(df, "append", meta)
        return v, self._footer_rows(self.snapshot(v).data_dirs[-1])

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> int:
        return self._commit(df, "overwrite", meta)

    # -- externally-written data (executor-side writers)

    def begin_external(self) -> tuple[int, str]:
        """Reserve the next snapshot's data dir for files written OUTSIDE
        the catalog's own write job (part files an engine task writes with
        :func:`write_part` as a side effect, so e.g. binary payloads never
        cross the Arrow→JVM row path). Single-writer tables only (the
        crawler is); commit with commit_external."""
        v = (self.current_version() or 0) + 1
        data_dir = self._data_dir(v)
        os.makedirs(data_dir, exist_ok=True)
        return v, data_dir

    def commit_external(
        self, version: int, data_dir: str, mode: str = "append", meta: dict | None = None
    ) -> tuple[int, int]:
        """Manifest-commit part files already present in ``data_dir``;
        returns (version, row count from parquet footers). If no files were
        written the reservation is abandoned (table state unchanged).

        Retry/speculation safety is the WRITER protocol's job (the moral
        equivalent of Iceberg's per-task commit metadata): every external
        writer in the engine emits deterministic per-partition names via
        :func:`write_part` — single ``part-{pid:05d}.parquet`` files, or
        whole ``part-{pid:05d}/`` chunk directories committed by a first-
        rename-wins directory swap — so a retried or speculated task
        replaces / yields to its partition's output instead of duplicating
        rows (tests/test_task_retry.py forces a mid-write task failure and
        asserts bitwise crawl parity). This commit still fences the
        leftovers: in-progress attempt dirs are swept, tmp/hidden files are
        excluded from the manifest count, and a duplicate partition id
        (two committed entries for one pid — impossible under the rename
        protocol) fails the commit rather than double-counting."""
        import shutil

        shutil.rmtree(data_dir + ".inprogress", ignore_errors=True)
        files = parquet_files(data_dir)
        if not files:
            shutil.rmtree(data_dir, ignore_errors=True)
            return self.current_version() or 0, 0
        top = {
            os.path.relpath(f, data_dir).split(os.sep)[0] for f in files
        }
        pids = [t.split("-")[1].split(".")[0] for t in top if t.startswith("part-")]
        if len(pids) != len(set(pids)):
            raise RuntimeError(
                f"duplicate partition outputs in {data_dir}: {sorted(top)}"
            )
        n = self._footer_rows(data_dir)
        self._commit_manifest(version, mode, data_dir, meta, rows=n)
        return version, n

    # -- merge-on-read deletes (Iceberg equality-delete files + compaction)

    def append_with_deletes(
        self, df: DataFrame, delete_keys: DataFrame, key: str,
        meta: dict | None = None, compact_threshold: float = 0.3,
    ) -> int:
        """One atomic commit = append ``df`` + equality-delete every
        existing row whose ``key`` appears in ``delete_keys`` (Iceberg
        merge-on-read DELETE semantics: a ~key-only tombstone file, no
        data-file rewrite). ``read()`` applies tombstones as an anti-join.

        This turns a mutate-in-place table (the crawl frontier) from an
        O(table) rewrite per commit into O(changed rows): at a 10^10-URL
        pending frontier the per-round commit writes round-sized files
        only. When accumulated tombstones exceed ``compact_threshold`` of
        live rows the commit compacts (one distributed rewrite, the moral
        equivalent of Iceberg's rewrite_data_files) so read-side anti-join
        cost stays bounded; amortized cost is O(changed) per commit."""
        v = (self.current_version() or 0) + 1
        data_dir = self._data_dir(v)
        del_dir = data_dir + ".del"
        self._write_data_dir(df, data_dir)
        # tombstones are URL-heavy too: the key column keeps the table's
        # sorted layout + encoding
        self._write_data_dir(
            delete_keys.select(key), del_dir,
            self.layout.tombstones(key) if self.layout else None,
        )
        stats = self._commit_manifest(
            v, "append", data_dir, meta, tombstones=(key, del_dir)
        )["mor_stats"]
        if stats["tomb"] > compact_threshold * max(stats["data"] - stats["tomb"], 1):
            return self.compact(meta=meta)
        return v

    def compact(self, meta: dict | None = None) -> int:
        """Materialize the post-delete view into one fresh snapshot (the
        moral equivalent of Iceberg rewrite_data_files): one distributed
        rewrite clears all tombstones so read-side anti-join cost stays
        bounded. Carries ``meta`` (defaults to the current snapshot's)."""
        cur = self.current_version()
        if cur is None:
            return 0
        if meta is None:
            meta = self.snapshot(cur).meta
        return self._commit(self.read(), "overwrite", meta)

    def _footer_rows(self, data_dir: str) -> int:
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in parquet_files(data_dir))

    def merge_upsert(self, df: DataFrame, key: str, prefer_new: bool = False,
                     meta: dict | None = None) -> int:
        """MERGE INTO semantics: insert rows whose key is absent; existing
        rows win unless prefer_new. The anti-join is the only shuffle; at
        Iceberg this is a real MERGE with file-level pruning."""
        if self.current_version() is None:
            return self._commit(df.dropDuplicates([key]), "overwrite", meta)
        cur = self.read()
        if prefer_new:
            merged = df.dropDuplicates([key]).unionByName(
                cur.join(df.select(key).distinct(), on=key, how="left_anti")
            )
            return self._commit(merged, "overwrite", meta)
        new_rows = df.dropDuplicates([key]).join(
            cur.select(key).distinct(), on=key, how="left_anti"
        )
        # append-only commit: existing files untouched, one new data dir
        return self._commit(new_rows, "append", meta)

    # -- reads

    def read(self, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.path} has no snapshots")
        snap = self.snapshot(v)
        # recursiveFileLookup: external writers may commit whole
        # per-partition chunk DIRECTORIES (the image writer's atomic
        # directory-rename protocol); hidden/tmp names are skipped by
        # Spark's file index already
        rd = self.spark.read.option("recursiveFileLookup", "true")
        if not snap.delete_dirs:
            dirs = [d for d in snap.data_dirs if os.path.exists(d)]
            return rd.parquet(*dirs)
        # sequence-aware tombstones: data dir i is deleted-from only by
        # tombstones with upto > i. Group data dirs sharing the same
        # applicable-tombstone set -> one anti-join per group (group
        # count stays small because compaction clears the tombstones).
        groups: dict[tuple, list[str]] = {}
        for i, d in enumerate(snap.data_dirs):
            if not os.path.exists(d):
                continue
            applicable = tuple(
                e["dir"] for e in snap.delete_dirs if e["upto"] > i
            )
            groups.setdefault(applicable, []).append(d)
        out = None
        for applicable, ds in groups.items():
            df = rd.parquet(*ds)
            if applicable:
                tomb = rd.parquet(*applicable).select(
                    snap.delete_key
                ).distinct()
                df = df.join(tomb, on=snap.delete_key, how="left_anti")
            out = df if out is None else out.unionByName(df)
        return out

    def rollback_to(self, version: int) -> None:
        """Point _current at an older snapshot (time travel / resume)."""
        if not os.path.exists(self._snap_path(version)):
            raise FileNotFoundError(f"no snapshot v{version}")
        self._set_current(version)

    def latest_meta(self) -> dict:
        v = self.current_version()
        return {} if v is None else self.snapshot(v).meta
