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
                                      live rows, merge-on-read stats, meta
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
  adding a file. A writer too large to buffer (image payloads) streams
  chunks into the same one file as row groups; there is no other landing
  protocol, so every data dir holds flat part files and readers never
  recurse. Tables without a layout (ad-hoc operator tables) use the Spark
  writer.
- How a snapshot chains onto the previous one:
  ``SnapshotTable._commit_manifest``. Every commit (Spark-written,
  externally written, merge-on-read) builds its manifest there: an append
  carries the previous data dirs, tombstones and live-row stats forward, an
  overwrite starts a fresh chain, and each records the live row count its
  writes counted (no Spark job counts a table). The manifest is written
  first, then ``_current`` is swapped atomically (os.replace): a crashed
  writer leaves the table at the previous snapshot, which is exactly the
  resume point (generalizes the reference master's ``skip=`` job resume,
  distributed.py:42,62-63). A multi-table commit record (every table
  version one crawl round wrote, rolled back together with
  ``rollback_to``) hooks in at that one helper.

Invariant: no code deletes a data dir a manifest references (compaction
writes a fresh dir; ``commit_external`` removes only the empty dir it was
about to commit), so tables may share one: the crawl frontier appends the
data dirs the seen table's commits wrote.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _pa_type(name: str):
    """Spark DDL simple-string → pyarrow type, for the declared layouts."""
    import pyarrow as pa

    types = {
        "string": pa.string(), "bigint": pa.int64(), "long": pa.int64(),
        "int": pa.int32(), "smallint": pa.int16(), "tinyint": pa.int8(),
        "double": pa.float64(), "float": pa.float32(), "boolean": pa.bool_(),
        "binary": pa.binary(), "date": pa.date32(),
    }
    if name not in types:
        raise KeyError(f"no pyarrow mapping for Spark type {name!r}; extend _pa_type")
    return types[name]


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

        return pa.schema([(n, _pa_type(t)) for n, t in self.columns()])

    def tombstones(self, key: str) -> "TableLayout":
        """Layout of the key-only equality-delete files: the key column,
        sorted, with the key's encoding."""
        (typ,) = [t for n, t in self.columns() if n == key]
        enc = {c: e for c, e in self.encodings.items() if c == key}
        return TableLayout(f"{key} {typ}", (key,), enc, self.compression)


def write_part(layout: TableLayout, cols, path: str) -> int:
    """Write one part file of a ``layout`` table at ``path`` and return its
    row count. ``cols`` is one chunk or an iterable of chunks; a chunk is a
    pandas DataFrame or a dict of column lists holding (at least) the
    layout's columns. Each chunk is sorted by the layout and becomes one
    row group, so a task streaming a large partition holds one chunk at a
    time. The file lands via a tmp name in the same directory +
    os.replace, so a re-run of the same task replaces its own identical
    output (the rows are a pure function of the task's input and the sort
    makes the bytes one too). If the chunks raise, the tmp file is removed
    and ``path`` is left untouched; an iterable that yields no rows writes
    no file."""
    import uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = layout.pa_schema()
    single = isinstance(cols, (dict, pd.DataFrame))
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    writer, n = None, 0
    try:
        for c in [cols] if single else cols:
            if isinstance(c, dict):
                tbl = pa.Table.from_pydict({k: c[k] for k in schema.names}, schema=schema)
            else:
                tbl = pa.Table.from_pandas(c[schema.names], schema=schema, preserve_index=False)
            if not tbl.num_rows and not single:
                continue  # an empty chunk adds no row group
            if layout.sort:
                tbl = tbl.sort_by([(k, "ascending") for k in layout.sort])
            if writer is None:
                # the declared schema without pandas / Arrow metadata: the
                # footer shrinks ~1.9 KB a file; readers use parquet types
                writer = pq.ParquetWriter(
                    tmp, schema, store_schema=False,
                    compression=layout.compression,
                    column_encoding=layout.encodings or None,
                    use_dictionary=[k for k in schema.names if k not in layout.encodings],
                )
            writer.write_table(tbl)
            n += tbl.num_rows
        if writer is None:
            return 0
        writer.close()
    except BaseException:
        if writer is not None:
            writer.close()
            os.remove(tmp)
        raise
    os.replace(tmp, path)
    return n


def parquet_files(data_dir: str) -> list[str]:
    """The committed parquet files of a data dir (every writer lands flat
    files), skipping tmp/hidden entries (.tmp-*, _*) that a killed
    straggler may leave behind."""
    if not os.path.isdir(data_dir):
        return []
    return sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


@dataclass
class Snapshot:
    version: int
    mode: str  # 'append' | 'overwrite'
    data_dirs: list[str]
    meta: dict
    rows: int  # live rows: what a read of this snapshot returns
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
        st, rows = d.get("mor_stats"), d.get("rows")
        if rows is None:  # a manifest written before live rows were recorded
            rows = st["data"] - st["tomb"] if st else sum(
                self._footer_rows(x) for x in d["data_dirs"])
        return Snapshot(
            version=d["version"], mode=d["mode"], data_dirs=d["data_dirs"],
            meta=d["meta"], rows=rows, delete_dirs=d.get("delete_dirs"),
            delete_key=d.get("delete_key"), mor_stats=st,
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
        self, df: DataFrame, data_dir: str, layout: TableLayout | None = None,
        flag: str | None = None,
    ) -> tuple[int, int]:
        """Write ``df``'s rows as parquet under ``data_dir`` with ``layout``
        (default: the table's); returns the rows written and how many of
        them have the boolean column ``flag`` set (a column of ``df`` the
        layout does not write; 0 without one). Without a layout this is
        the Spark writer. With one, each task buffers its partition and
        writes ONE ``part-{pid:05d}.parquet`` through :func:`write_part`,
        so a retried or speculated task replaces its own identical output
        instead of duplicating rows, and returns its count row. An empty
        ``df`` leaves an empty dir."""
        layout = layout or self.layout
        if layout is None:
            if flag is not None:
                raise ValueError("a flag count needs a table layout")
            df.write.mode("overwrite").parquet(data_dir)
            return self._footer_rows(data_dir), 0
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
            n = write_part(layout, pdf, path)
            yield pd.DataFrame({"n": [n], "f": [int(pdf[flag].sum()) if flag else 0]})

        counts = df.mapInPandas(write, schema="n long, f long").collect()
        return sum(r.n for r in counts), sum(r.f for r in counts)

    def _commit_manifest(
        self, v: int, mode: str, data_dir: str | None, meta: dict | Callable | None,
        rows: int | None = None, tombstones: tuple | None = None,
    ) -> dict:
        """Make snapshot ``v`` (``data_dir`` already written; None adds
        none) the current one — the single place a snapshot chains on.

        ``append`` carries the previous data dirs forward, and with them
        the tombstones (they delete from those old dirs only) and the
        merge-on-read stats, which COUNT the appended ``rows`` (footer
        total of ``data_dir`` when not given): a frozen live-row count
        makes a later tiny retraction trip a full compaction. ``overwrite``
        starts a fresh chain: no old data, no tombstones.
        ``tombstones=(key, del_dir, n, flagged)`` adds an equality-delete
        dir of ``n`` keys, one per row it deletes, that applies to the data
        dirs committed BEFORE this one (Iceberg sequence numbers: rows
        appended in this commit or a later one with a deleted key stay
        live). The manifest's ``rows`` = live rows before + ``rows`` -
        ``n``. A callable ``meta`` gets (``rows``, ``n``, ``flagged``).
        Returns the manifest."""
        ps = None
        if mode == "append" and (prev := self.current_version()):
            ps = self.snapshot(prev)
        prev_dirs = ps.data_dirs if ps else []
        new_dirs = [data_dir] if data_dir else []
        if rows is None:
            rows = sum(self._footer_rows(d) for d in new_dirs)
        _, del_dir, n_tomb, flagged = tombstones or (None, None, 0, 0)
        if callable(meta):
            meta = meta(rows, n_tomb, flagged)
        live = (ps.rows if ps else 0) + rows - n_tomb
        snap = {"version": v, "mode": mode, "data_dirs": prev_dirs + new_dirs,
                "meta": dict(meta or {}), "rows": live}
        dels = list(ps.delete_dirs or []) if ps else []
        key = ps.delete_key if ps else None
        stats = ps.mor_stats if ps else None
        if tombstones:
            if key not in (None, tombstones[0]):
                raise ValueError(f"table already has tombstones keyed by {key!r}")
            key = tombstones[0]
            dels.append({"dir": del_dir, "upto": len(prev_dirs)})
            # the first MoR commit on this table seeds the stats
            stats = stats or {"data": ps.rows if ps else 0, "tomb": 0}
            stats = {**stats, "tomb": stats["tomb"] + n_tomb}
        if dels:
            snap["delete_dirs"] = dels
            snap["delete_key"] = key
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

    def _commit(self, df: DataFrame, mode: str, meta) -> tuple[int, int]:
        """Commit ``df`` as a new data dir; returns (version, rows written)."""
        v = (self.current_version() or 0) + 1
        data_dir = self._data_dir(v)
        rows, _ = self._write_data_dir(df, data_dir)
        self._commit_manifest(v, mode, data_dir, meta, rows=rows)
        return v, rows

    def append(self, df: DataFrame, meta: dict | Callable | None = None) -> int:
        return self._commit(df, "append", meta)[0]

    def append_counted(self, df: DataFrame, meta: dict | None = None) -> tuple[int, int]:
        """Append and return (version, rows written by the append)."""
        return self._commit(df, "append", meta)

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> int:
        return self._commit(df, "overwrite", meta)[0]

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

        Retry/speculation safety is the WRITER's job (the moral equivalent
        of Iceberg's per-task commit metadata): every external writer lands
        its files through :func:`write_part` under a deterministic
        per-partition name (``part-{pid:05d}.parquet``), so a retried or
        speculated task replaces its partition's output instead of adding
        a duplicate (tests/test_task_retry.py forces a mid-write task
        failure and asserts bitwise crawl parity). A data dir holds flat
        files only. What a killed task can leave behind is its ``.tmp-*``
        file: this commit removes those, and the manifest counts committed
        names only."""
        for f in os.listdir(data_dir):
            if f.startswith(".tmp-"):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(data_dir, f))
        if not parquet_files(data_dir):
            shutil.rmtree(data_dir, ignore_errors=True)
            return self.current_version() or 0, 0
        n = self._footer_rows(data_dir)
        self._commit_manifest(version, mode, data_dir, meta, rows=n)
        return version, n

    # -- merge-on-read deletes (Iceberg equality-delete files + compaction)

    def append_with_deletes(
        self, data: DataFrame | str | None, delete_keys: DataFrame | list | None,
        key: str, meta: dict | Callable | None = None,
        compact_threshold: float = 0.3, flag: str | None = None,
    ) -> int:
        """One atomic commit = append ``data`` + equality-delete every
        existing row whose ``key`` appears in ``delete_keys`` (Iceberg
        merge-on-read DELETE semantics: a ~key-only tombstone file, no
        data-file rewrite). ``read()`` applies tombstones as an anti-join.
        ``data`` may also be a written data dir (shared, not copied) or
        None, and ``delete_keys`` None (no tombstones) or a list of key
        values, written in-process as one tombstone file (layout tables
        only; no Spark job). ``delete_keys`` holds one row (or list item)
        per live row it deletes: the live-row count drops by one per row.
        ``flag`` names a boolean column of a DataFrame ``delete_keys``
        whose set rows the tombstone write counts for a callable ``meta``.
        A commit that would add no data, no tombstone and no meta changes
        nothing and is not made.

        This turns a mutate-in-place table (the crawl frontier) from an
        O(table) rewrite per commit into O(changed rows): at a 10^10-URL
        pending frontier the per-round commit writes round-sized files
        only. When accumulated tombstones exceed ``compact_threshold`` of
        live rows the commit compacts (one distributed rewrite, the moral
        equivalent of Iceberg's rewrite_data_files) so read-side anti-join
        cost stays bounded; amortized cost is O(changed) per commit."""
        v = (self.current_version() or 0) + 1
        data_dir, rows = data, None
        if isinstance(data, DataFrame):
            data_dir = self._data_dir(v)
            rows, _ = self._write_data_dir(data, data_dir)
        tombstones = None
        if delete_keys is not None:
            del_dir = self._data_dir(v) + ".del"
            # tombstones are URL-heavy too: the key column keeps the table's
            # sorted layout + encoding
            tomb_layout = self.layout.tombstones(key) if self.layout else None
            if isinstance(delete_keys, list):
                os.makedirs(del_dir, exist_ok=True)
                n, flagged = write_part(
                    tomb_layout, {key: delete_keys},
                    os.path.join(del_dir, "part-00000.parquet"),
                ), 0
            else:
                n, flagged = self._write_data_dir(
                    delete_keys.select(key, *([flag] if flag else [])), del_dir,
                    tomb_layout, flag,
                )
            tombstones = (key, del_dir, n, flagged)
            if not n and data_dir is None and meta is None:
                shutil.rmtree(del_dir, ignore_errors=True)
                return self.current_version() or 0
        snap = self._commit_manifest(
            v, "append", data_dir, meta, rows=rows, tombstones=tombstones
        )
        stats = snap.get("mor_stats")
        if stats and stats["tomb"] > compact_threshold * max(snap["rows"], 1):
            return self.compact(meta=snap["meta"])
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
        return self._commit(self.read(), "overwrite", meta)[0]

    def live_rows(self) -> int:
        """The current snapshot's row count from its manifest (no job)."""
        v = self.current_version()
        return 0 if v is None else self.snapshot(v).rows

    def _footer_rows(self, data_dir: str) -> int:
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in parquet_files(data_dir))

    def merge_upsert(self, df: DataFrame, key: str, prefer_new: bool = False,
                     meta: dict | None = None) -> int:
        """MERGE INTO semantics: insert rows whose key is absent; existing
        rows win unless prefer_new. The anti-join is the only shuffle; at
        Iceberg this is a real MERGE with file-level pruning."""
        if self.current_version() is None:
            return self._commit(df.dropDuplicates([key]), "overwrite", meta)[0]
        cur = self.read()
        if prefer_new:
            merged = df.dropDuplicates([key]).unionByName(
                cur.join(df.select(key).distinct(), on=key, how="left_anti")
            )
            return self._commit(merged, "overwrite", meta)[0]
        new_rows = df.dropDuplicates([key]).join(
            cur.select(key).distinct(), on=key, how="left_anti"
        )
        # append-only commit: existing files untouched, one new data dir
        return self._commit(new_rows, "append", meta)[0]

    # -- reads

    def read(self, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.path} has no snapshots")
        snap = self.snapshot(v)
        layout = self.layout
        if not snap.delete_dirs:
            return self._scan(snap.data_dirs, layout)
        # sequence-aware tombstones: data dir i is deleted-from only by
        # tombstones with upto > i. Group data dirs sharing the same
        # applicable-tombstone set -> one anti-join per group (group
        # count stays small because compaction clears the tombstones).
        groups: dict[tuple, list[str]] = {}
        for i, d in enumerate(snap.data_dirs):
            applicable = tuple(
                e["dir"] for e in snap.delete_dirs if e["upto"] > i
            )
            groups.setdefault(applicable, []).append(d)
        key = snap.delete_key
        out = None
        for applicable, ds in groups.items():
            df = self._scan(ds, layout)
            if applicable:
                tomb = self._scan(
                    applicable, layout and layout.tombstones(key)
                ).select(key).distinct()
                df = df.join(tomb, on=key, how="left_anti")
            out = df if out is None else out.unionByName(df)
        return out

    def _scan(self, dirs: list[str], layout: TableLayout | None) -> DataFrame:
        """Declared-schema scan: no inference job; no files read as 0 rows."""
        rd = self.spark.read
        return (rd.schema(layout.ddl) if layout else rd).parquet(*dirs)

    def rollback_to(self, version: int) -> None:
        """Point _current at an older snapshot (time travel / resume)."""
        if not os.path.exists(self._snap_path(version)):
            raise FileNotFoundError(f"no snapshot v{version}")
        self._set_current(version)

    def latest_meta(self) -> dict:
        v = self.current_version()
        return {} if v is None else self.snapshot(v).meta
